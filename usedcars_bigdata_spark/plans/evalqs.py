"""Model-evaluation / feature-engineering contract entries (ml.eval) and
graph-analytics extensions (operators.graph triangle/link-prediction).

Label/score synthesis for the classification-metric entries follows the
md5-uniform determinism idiom (rel_dp_noisy_counts precedent): label is a
real column predicate (o_orderstatus = 'F'), the score is a deterministic
uniform SHIFTED by the label (0.7·u + 0.3·label) so the two class
distributions overlap — AUC/KS/lift land strictly between coin-flip and
perfect, exercising the tie/CDF machinery for real. Both engines replay
the identical expression, so the entries certify the METRIC plans, not a
data source. Money sums ride integer cents (ts_bootstrap_ci precedent).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext import dedup as X
from ..ext import text as TX
from ..ml import eval as ME
from ..operators import graph as G
from ..sources import load_table
from .registry import query, scratch_dir
from ..streaming.events import (
    exact_ranges,
    run_stream,
    take_sink,
    write_replay_source,
)

# Shared synthesis: one row per order with (label, score, price_cents, fold).
_SCORED_CTE = """
    scored AS (
      SELECT o_orderkey, o_orderpriority,
             CAST(o_orderstatus = 'F' AS INTEGER) AS label,
             round(0.7 * ((CAST('0x' || substr(md5('mlscore:' ||
                   CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0)
                   + 0.3 * CAST(o_orderstatus = 'F' AS INTEGER), 9) AS score,
             CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents,
             CAST(CAST('0x' || substr(md5('fold:' ||
                  CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 5
                  AS INTEGER) AS fold
      FROM orders
    )
"""


def _scored_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")

    def unif(salt: str):
        h = F.substring(
            F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string"))),
            1,
            8,
        )
        return (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)

    y = (F.col("o_orderstatus") == "F").cast("int")
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        y.alias("label"),
        F.round(0.7 * unif("mlscore:") + 0.3 * y, 9).alias("score"),
        F.round(F.col("o_totalprice") * 100).cast("long").alias("price_cents"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("fold:"), F.col("o_orderkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(5),
        )
        .cast("int")
        .alias("fold"),
    )


@query(
    "ml_roc_auc",
    oracle=f"""
    WITH {_SCORED_CTE},
    r AS (
      SELECT o_orderpriority, label,
             rank() OVER (PARTITION BY o_orderpriority ORDER BY score)
             + (count(*) OVER (PARTITION BY o_orderpriority, score) - 1) / 2.0
               AS ar
      FROM scored
    )
    SELECT o_orderpriority,
           CAST(sum(label) AS BIGINT) AS n_pos,
           CAST(count(*) - sum(label) AS BIGINT) AS n_neg,
           round((sum(ar * label) - sum(label) * (sum(label) + 1) / 2.0)
                 / (sum(label) * (count(*) - sum(label))), 6) AS auc
    FROM r GROUP BY 1
    """,
)
def ml_roc_auc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority ROC AUC (ml.eval.roc_auc): Mann-Whitney rank form
    with average-rank tie correction — one window sort per group, rank
    sums exact to 2^53, no per-threshold scan. The label-shifted
    synthetic score puts every group strictly between 0.5 and 1.0, so
    the entry certifies real discrimination arithmetic, not a degenerate
    all-ties case."""
    return ME.roc_auc(
        _scored_orders(spark, sf_dir), "label", "score", "o_orderpriority"
    )


@query(
    "ml_ks_statistic",
    oracle=f"""
    WITH {_SCORED_CTE},
    ps AS (
      SELECT o_orderpriority AS g, score,
             sum(label) AS p, count(*) AS n
      FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT g,
             sum(p) OVER (PARTITION BY g ORDER BY score
                          ROWS UNBOUNDED PRECEDING) AS cp,
             sum(n - p) OVER (PARTITION BY g ORDER BY score
                              ROWS UNBOUNDED PRECEDING) AS cn,
             sum(p) OVER (PARTITION BY g) AS n_pos,
             sum(n - p) OVER (PARTITION BY g) AS n_neg
      FROM ps
    )
    SELECT g AS o_orderpriority,
           CAST(max(n_pos) AS BIGINT) AS n_pos,
           CAST(max(n_neg) AS BIGINT) AS n_neg,
           round(max(abs(cp * 1.0 / n_pos - cn * 1.0 / n_neg)), 6) AS ks
    FROM cum GROUP BY 1
    """,
)
def ml_ks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-priority KS separation (ml.eval.ks_statistic): the fact table
    collapses to one row per (group, score) BEFORE the CDF window, so the
    running sums ride distinct-score cardinality; the step-function
    supremum is exact at the steps."""
    return ME.ks_statistic(
        _scored_orders(spark, sf_dir), "label", "score", "o_orderpriority"
    )


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH {_SCORED_CTE}
    SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9) AS INTEGER)
             AS bin,
           CAST(count(*) AS BIGINT) AS n,
           round(avg(score), 6) AS avg_score,
           round(avg(CAST(label AS DOUBLE)), 6) AS frac_pos
    FROM scored GROUP BY 1
    """,
)
def ml_calibration_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reliability-diagram bins (ml.eval.calibration_bins): one
    map-side-combinable aggregate; also the bounded-sketch downgrade path
    for AUC/KS at extreme scale."""
    return ME.calibration_bins(_scored_orders(spark, sf_dir), "label", "score")


@query(
    "ml_lift_deciles",
    oracle=f"""
    WITH {_SCORED_CTE},
    t AS (
      SELECT CAST(ntile(10) OVER (ORDER BY score DESC, o_orderkey ASC)
                  AS INTEGER) AS tile,
             label
      FROM scored
    ),
    per AS (
      SELECT tile, count(*) AS n, sum(label) AS n_pos FROM t GROUP BY 1
    )
    SELECT tile, CAST(n AS BIGINT) AS n, CAST(n_pos AS BIGINT) AS n_pos,
           round((n_pos * 1.0 / n)
                 / (sum(n_pos) OVER () * 1.0 / sum(n) OVER ()), 6) AS lift,
           round(sum(n_pos) OVER (ORDER BY tile ROWS UNBOUNDED PRECEDING)
                 * 1.0 / sum(n_pos) OVER (), 6) AS cum_capture
    FROM per
    """,
)
def ml_lift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative gains / lift deciles (ml.eval.lift_deciles): ntile over
    the TOTAL order (score DESC, orderkey ASC) so tile membership is
    deterministic and identical across engines; cumulative windows run on
    the 10-row tile table."""
    return ME.lift_deciles(
        _scored_orders(spark, sf_dir), "label", "score", "o_orderkey"
    )


@query(
    "ml_target_encoding",
    oracle=f"""
    WITH {_SCORED_CTE},
    cf AS (
      SELECT o_orderpriority, fold, count(*) AS n_fold,
             sum(price_cents) AS s_fold
      FROM scored GROUP BY 1, 2
    ),
    ct AS (
      SELECT o_orderpriority, sum(n_fold) AS n_tot, sum(s_fold) AS s_tot
      FROM cf GROUP BY 1
    ),
    pr AS (SELECT sum(price_cents) * 1.0 / count(*) AS prior FROM scored)
    SELECT cf.o_orderpriority, cf.fold,
           CAST(cf.n_fold AS BIGINT) AS n_fold,
           round((ct.s_tot - cf.s_fold + 20.0 * pr.prior)
                 / (ct.n_tot - cf.n_fold + 20.0), 6) AS encoding
    FROM cf JOIN ct USING (o_orderpriority) CROSS JOIN pr
    """,
)
def ml_target_enc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-free 5-fold target encoding of order priority against the
    order value (ml.eval.target_encode_kfold): the subtraction trick —
    out-of-fold mean from per-(cat, fold) partials + per-cat totals, two
    combinable aggregates and one broadcast join, never K anti-joins.
    Fold assignment is the md5-uniform hash mod 5 (replayed in SQL);
    sums ride integer cents, so both engines divide identical exact
    operands."""
    return ME.target_encode_kfold(
        _scored_orders(spark, sf_dir), "o_orderpriority", "price_cents", "fold"
    )


@query(
    "ml_categorical_assoc",
    oracle="""
    WITH c AS (
      SELECT o_orderpriority AS x, o_orderstatus AS y, count(*) AS n
      FROM orders GROUP BY 1, 2
    ),
    rx AS (SELECT x, sum(n) AS nx FROM c GROUP BY 1),
    ry AS (SELECT y, sum(n) AS ny FROM c GROUP BY 1),
    t AS (
      SELECT sum(n) AS N, count(DISTINCT x) AS n_x, count(DISTINCT y) AS n_y
      FROM c
    ),
    -- complete the grid: zero cells still contribute e to chi-square
    grid AS (
      SELECT rx.x, ry.y, rx.nx, ry.ny, coalesce(c.n, 0) AS n
      FROM rx CROSS JOIN ry
      LEFT JOIN c ON c.x = rx.x AND c.y = ry.y
    )
    SELECT CAST(t.N AS BIGINT) AS n,
           CAST(t.n_x AS BIGINT) AS n_x,
           CAST(t.n_y AS BIGINT) AS n_y,
           round(sum(pow(g.n - CAST(g.nx AS DOUBLE) * g.ny / t.N, 2)
                     / (CAST(g.nx AS DOUBLE) * g.ny / t.N)), 6) AS chi2,
           round(sqrt(sum(pow(g.n - CAST(g.nx AS DOUBLE) * g.ny / t.N, 2)
                          / (CAST(g.nx AS DOUBLE) * g.ny / t.N))
                      / (t.N * least(t.n_x - 1, t.n_y - 1))), 6) AS cramers_v,
           round(sum(CASE WHEN g.n > 0
                          THEN (g.n * 1.0 / t.N)
                               * ln(CAST(g.n AS DOUBLE) * t.N / (CAST(g.nx AS DOUBLE) * g.ny))
                          ELSE 0.0 END), 6) AS mi_nats
    FROM grid g CROSS JOIN t
    GROUP BY t.N, t.n_x, t.n_y
    """,
)
def ml_assoc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical association screen for priority × status
    (ml.eval.categorical_association): chi-square, Cramér's V, and mutual
    information from ONE contingency pass — the feature-selection triple
    next to rel_chi_square's per-cell decomposition. Every double derives
    from exact integer counts; products go through 1.0 before any
    long×long multiply (ANSI overflow headroom)."""
    orders = load_table(spark, sf_dir, "orders")
    return ME.categorical_association(orders, "o_orderpriority", "o_orderstatus")


# ---------------------------------------------------------------------------
# Graph analytics on the co-purchase graph (≥2 co-occurrences — the same
# edge derivation as rel_copurchase_pairs)
# ---------------------------------------------------------------------------

_EDGES_CTE = """
    items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    e AS MATERIALIZED (
      SELECT a.l_partkey AS a, b.l_partkey AS b
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING count(*) >= 2
    )
"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    items = li.select("l_orderkey", "l_partkey").distinct()
    a = items.select("l_orderkey", F.col("l_partkey").alias("pa"))
    b = items.select(
        F.col("l_orderkey").alias("__ok"), F.col("l_partkey").alias("pb")
    )
    return (
        a.join(b, (a.l_orderkey == b.__ok) & (F.col("pa") < F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("pa", "pb")
    )


@query(
    "rel_triangle_stats",
    oracle=f"""
    WITH {_EDGES_CTE},
    tri AS (
      SELECT count(*) AS nt
      FROM e x
      JOIN e y ON y.a = x.b
      JOIN e z ON z.a = x.a AND z.b = y.b
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, count(*) AS d FROM sym GROUP BY 1),
    w AS (
      SELECT count(*) AS n_nodes, sum(d * (d - 1) / 2) AS wedges FROM deg
    ),
    ne AS (SELECT count(*) AS n_edges FROM e)
    SELECT CAST(w.n_nodes AS BIGINT) AS n_nodes,
           CAST(ne.n_edges AS BIGINT) AS n_edges,
           CAST(tri.nt AS BIGINT) AS n_triangles,
           round(CASE WHEN w.wedges > 0
                      THEN 3.0 * tri.nt / w.wedges ELSE 0.0 END, 6)
             AS clustering
    FROM w CROSS JOIN ne CROSS JOIN tri
    """,
)
def rel_triangles_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census + global clustering coefficient of the repeat
    co-purchase graph (operators.graph.triangle_stats): canonical-
    orientation two-join triangle count (each triangle once, vertices in
    sorted order), wedge denominator from the symmetrized degree table.
    61 triangles at sf0.01 — non-degenerate for the hash check."""
    return G.triangle_stats(_copurchase_edges(spark, sf_dir), "pa", "pb")


@query(
    "rel_common_neighbors",
    oracle=f"""
    WITH {_EDGES_CTE},
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    w AS (
      SELECT l.a AS node_a, r.a AS node_b, count(*) AS n_common
      FROM sym l JOIN sym r ON l.b = r.b AND l.a < r.a
      GROUP BY 1, 2
    ),
    cand AS (
      SELECT * FROM w
      WHERE NOT EXISTS (
        SELECT 1 FROM sym s WHERE s.a = w.node_a AND s.b = w.node_b
      )
    )
    SELECT CAST(row_number() OVER (ORDER BY n_common DESC,
                                   node_a ASC, node_b ASC) AS INTEGER)
             AS rank,
           node_a, node_b, CAST(n_common AS BIGINT) AS n_common
    FROM cand
    QUALIFY rank <= 20
    """,
)
def rel_common_nbrs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common-neighbors link prediction on the repeat co-purchase graph
    (operators.graph.common_neighbors_topk): wedge self-join on the
    center node, collapsed to distinct candidate pairs BEFORE the
    adjacency anti-join; top-20 by (score DESC, a, b)."""
    return G.common_neighbors_topk(_copurchase_edges(spark, sf_dir), "pa", "pb")


# ---------------------------------------------------------------------------
# Round-6 continuation: lead-lag screening, drift, corpus saturation,
# probabilistic record linkage
# ---------------------------------------------------------------------------

@query(
    "ts_lead_lag_xcorr",
    oracle="""
    WITH h AS (
      SELECT date_trunc('hour', ts) AS h,
             sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS x,
             sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS y
      FROM events WHERE event_type IN ('click', 'purchase')
      GROUP BY 1
    ),
    l AS (SELECT unnest(range(0, 4)) AS lag),
    p AS (
      SELECT l.lag, a.x AS xv, b.y AS yv
      FROM l
      JOIN h a ON true
      JOIN h b ON b.h = a.h + l.lag * INTERVAL 1 HOUR
    ),
    m AS (
      SELECT lag, count(*) AS n_buckets, sum(xv) AS sx, sum(yv) AS sy,
             sum(xv * yv) AS sxy, sum(xv * xv) AS sxx, sum(yv * yv) AS syy
      FROM p GROUP BY 1
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           CAST(n_buckets AS BIGINT) AS n_buckets,
           round((CAST(n_buckets AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / sqrt((CAST(n_buckets AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                        * (CAST(n_buckets AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)), 6) AS r
    FROM m
    """,
)
def ts_xcorr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Click→purchase lead-lag cross-correlation at 0-3 hour lags
    (operators.timeseries.lead_lag_xcorr): the fact table collapses to
    the hourly count table in one aggregate; the lag axis explodes from
    a literal array and joins bucket-cardinality rows only. Pearson r
    from exact integer moments."""
    from ..operators.timeseries import lead_lag_xcorr

    ev = load_table(spark, sf_dir, "events")
    return lead_lag_xcorr(ev, "ts", "event_type", "click", "purchase", max_lag=3)


@query(
    "ts_seasonality_anova",
    oracle="""
    WITH c AS (
      SELECT event_type AS key, EXTRACT(hour FROM ts) AS hod,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    ph AS (
      SELECT key, hod, count(*) AS n_h, sum(c) AS s_h, sum(c * c) AS ss_h
      FROM c GROUP BY 1, 2
    ),
    pk AS (
      SELECT key, sum(n_h) AS n, sum(s_h) AS s, sum(ss_h) AS ss,
             sum(CAST(s_h AS DOUBLE) * s_h / n_h) AS sb
      FROM ph GROUP BY 1
    )
    SELECT key, CAST(n AS BIGINT) AS n,
           round((sb - CAST(s AS DOUBLE) * s / n) / (ss - CAST(s AS DOUBLE) * s / n), 6) AS eta2
    FROM pk
    """,
)
def ts_season_anova_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonality strength per event type
    (operators.timeseries.seasonality_anova): one-way-ANOVA eta² from
    per-(key, hour-of-day) integer-cent moments — ≤24 rows per key after
    the single combinable aggregate. The measure-before-deseasonalize
    screen next to ts_seasonal_baseline."""
    from ..operators.timeseries import seasonality_anova

    ev = load_table(spark, sf_dir, "events")
    return seasonality_anova(ev, "ts", "event_type", "value")


@query(
    "rel_feature_drift_ks",
    oracle="""
    WITH scored AS (
      SELECT o_orderpriority,
             CAST(o_orderdate >= DATE '1998-06-01' AS INTEGER) AS label,
             o_totalprice AS score
      FROM orders
    ),
    ps AS (
      SELECT o_orderpriority AS g, score, sum(label) AS p, count(*) AS n
      FROM scored GROUP BY 1, 2
    ),
    cum AS (
      SELECT g,
             sum(p) OVER (PARTITION BY g ORDER BY score
                          ROWS UNBOUNDED PRECEDING) AS cp,
             sum(n - p) OVER (PARTITION BY g ORDER BY score
                              ROWS UNBOUNDED PRECEDING) AS cn,
             sum(p) OVER (PARTITION BY g) AS n_pos,
             sum(n - p) OVER (PARTITION BY g) AS n_neg
      FROM ps
    )
    SELECT g AS o_orderpriority,
           CAST(max(n_pos) AS BIGINT) AS n_recent,
           CAST(max(n_neg) AS BIGINT) AS n_past,
           round(max(abs(cp * 1.0 / n_pos - cn * 1.0 / n_neg)), 6) AS ks_drift
    FROM cum GROUP BY 1
    """,
)
def rel_drift_ks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-drift KS per priority: the two-sample KS distance between
    the order-value distributions BEFORE and SINCE 1998-06-01 — the
    period indicator IS a binary label, so this is ml.eval.ks_statistic
    reused verbatim (operator composability: one metric kernel serves
    both model-score power and feature drift). Complements
    rel_psi_drift's binned form with the exact-CDF form."""
    from ..ml.eval import ks_statistic

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        (F.col("o_orderdate") >= F.lit("1998-06-01").cast("date"))
        .cast("int")
        .alias("label"),
        F.col("o_totalprice").alias("score"),
    )
    return ks_statistic(o, "label", "score", "o_orderpriority").select(
        "o_orderpriority",
        F.col("n_pos").alias("n_recent"),
        F.col("n_neg").alias("n_past"),
        F.col("ks").alias("ks_drift"),
    )


@query(
    "ext_vocab_saturation",
    oracle="""
    WITH b AS (
      SELECT ntile(10) OVER (ORDER BY doc_id) AS bb, text FROM documents
    ),
    t AS (SELECT bb, string_split_regex(trim(text), '\\s+') AS w FROM b),
    g AS (
      SELECT bb, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
      FROM (SELECT bb, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    fs AS (SELECT gram, min(bb) AS batch FROM g GROUP BY 1),
    nb AS (SELECT batch, count(*) AS new_grams FROM fs GROUP BY 1)
    SELECT CAST(batch AS INTEGER) AS batch,
           CAST(new_grams AS BIGINT) AS new_grams,
           CAST(sum(new_grams) OVER (ORDER BY batch
                                     ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_vocab
    FROM nb
    """,
)
def ext_vocab_sat_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary rarefaction over 10 ingestion-order batches
    (ext.text.vocab_saturation): first-seen = min(batch) per word 3-gram,
    O(total grams) with one shuffle on the hashed gram — never a
    batch-by-batch rescan. The is-more-data-still-new readout next to
    dup_gram_fraction."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.vocab_saturation(docs, "doc_id", "text", n=3, n_batches=10)


@query(
    "ext_fs_match_scores",
    oracle="""
    WITH p0 AS (
      SELECT p_partkey, p_brand, p_size, p_name, p_type,
             CAST(round(p_retailprice) AS BIGINT) AS pr
      FROM part
    ),
    -- same max_block=10000 circuit breaker as the Spark side
    -- (ext.dedup.blocked_er_pairs): blocks above the cap contribute no
    -- pairs in EITHER engine, so parity holds at every SF, not just
    -- while every (brand, size) block happens to stay under 10k rows.
    p AS (
      SELECT * FROM p0
      WHERE (p_brand, p_size) IN (
        SELECT (p_brand, p_size) FROM p0
        GROUP BY p_brand, p_size HAVING count(*) <= 10000
      )
    ),
    pairs AS (
      SELECT a.p_partkey AS id_a, b.p_partkey AS id_b,
             CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                  THEN 1 ELSE 0 END AS ag1,
             CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS ag2,
             CASE WHEN a.pr = b.pr THEN 1 ELSE 0 END AS ag3
      FROM p a
      JOIN p b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
              AND a.p_partkey < b.p_partkey
    ),
    s AS (
      SELECT id_a, id_b,
             CAST(ag1 + ag2 + ag3 AS INTEGER) AS n_agree,
             round(0.0 + CASE WHEN ag1 = 1 THEN CAST(4.169925001442312 AS DOUBLE) ELSE CAST(-3.2479275134435857 AS DOUBLE) END
                 + CASE WHEN ag2 = 1 THEN CAST(2.0874628412503395 AS DOUBLE) ELSE CAST(-2.4150374992788435 AS DOUBLE) END
                 + CASE WHEN ag3 = 1 THEN CAST(1.222392421336448 AS DOUBLE) ELSE CAST(-1.2223924213364477 AS DOUBLE) END, 6)
               AS weight
      FROM pairs
    )
    SELECT CAST(row_number() OVER (ORDER BY weight DESC, id_a ASC, id_b ASC)
                AS INTEGER) AS rank,
           id_a, id_b, n_agree, weight
    FROM s
    QUALIFY rank <= 50
    """,
)
def ext_fs_scores_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic linkage scores
    (ext.dedup.fs_match_scores): parts blocked on (brand, size); three
    comparison fields — name within 4 edits (m=0.9, u=0.05), exact type
    (0.85, 0.2), exact rounded price (0.7, 0.3) — sum their log2
    likelihood-ratio weights, PRE-COMPUTED as double literals so both
    engines add identical constants. Top-50 review queue by
    (weight DESC, id_a, id_b). The scoring stage the ER stack thresholds
    BEFORE transitive closure; EM-fitted m/u is the named upgrade."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "pr", F.round("p_retailprice").cast("long")
    )
    return X.fs_match_scores(
        p,
        "p_partkey",
        ["p_brand", "p_size"],
        [("p_name", 4, 0.9, 0.05), ("p_type", "exact", 0.85, 0.2),
         ("pr", "exact", 0.7, 0.3)],
        top_k=50,
    )


def _minhash_md5_oracle(bands: int, threshold: float) -> str:
    """Generate the MinHash+LSH oracle from the SAME seed table and
    prime as ext.dedup (structural identity: signatures, band tuples,
    candidate unions and the verify join all derive from one constant
    source, so the two engines cannot silently disagree on a seed)."""
    P = X._P
    seeds = X._MINHASH_SEEDS
    k = len(seeds)
    rpb = k // bands
    mh = ", ".join(
        f"CAST(min(({a} * x + {b}) % {P}) AS BIGINT) AS mh_{i}"
        for i, (a, b) in enumerate(seeds)
    )
    band_joins = []
    for bi in range(bands):
        cond = " AND ".join(
            f"a.mh_{bi * rpb + j} = b.mh_{bi * rpb + j}" for j in range(rpb)
        )
        band_joins.append(
            f"SELECT a.doc_id AS id_a, b.doc_id AS id_b\n"
            f"      FROM sigs a JOIN sigs b ON {cond}"
            f" AND a.doc_id < b.doc_id"
        )
    cands = "\n      UNION ALL\n      ".join(band_joins)
    return rf"""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\s+') AS w
      FROM documents
    ),
    sh AS MATERIALIZED (
      SELECT DISTINCT doc_id,
             w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS shingle
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    hx AS (
      SELECT doc_id,
             shingle,
             CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) % {P} AS x
      FROM sh
    ),
    sigs AS MATERIALIZED (
      SELECT doc_id, {mh}
      FROM hx GROUP BY doc_id
    ),
    cands AS MATERIALIZED (
      SELECT DISTINCT id_a, id_b FROM (
      {cands}
      )
    ),
    sizes AS MATERIALIZED (
      SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id
    ),
    inter AS (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cands c
      JOIN sh xa ON xa.doc_id = c.id_a
      JOIN sh yb ON yb.doc_id = c.id_b AND yb.shingle = xa.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(i * 1.0 / (na.n + nb.n - i), 4) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE i * 1.0 / (na.n + nb.n - i) >= {threshold!r}
    """


@query("ext_dedup_minhash_md5", oracle=_minhash_md5_oracle(4, 0.2))
def ext_minhash_md5_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The FULL MinHash+LSH near-dup pipeline, hash-certified end to end
    (ext.dedup.minhash_lsh_md5_pairs): 3-word shingles → md5-based
    31-bit base hash → the SAME 16 affine min-permutations, prime and
    4-band bucketing as the xxhash64 production tier → in-bucket
    candidates → exact Jaccard >= 0.2. The xxhash64 tier
    (ext_dedup_minhash_lsh) stays the scale path and stays rows-only —
    DuckDB cannot evaluate xxhash64 — but every STAGE of the mechanism
    (signature math, banding, candidate generation, verification) is
    certified here on a replayable hash, closing the LSH family's last
    oracle gap. Oracle generated from the same seed constants."""
    docs = load_table(spark, sf_dir, "documents")
    return X.minhash_lsh_md5_pairs(
        docs, "doc_id", "text", n=3, bands=4, threshold=0.2
    )


def _fs_em_oracle(iterations: int, p0: float, m0: float, u0: float) -> str:
    """Generate the unrolled EM SQL so the oracle is structurally
    guaranteed to run the same fixed rounds, the same left-associated
    float products, and the same per-M-step round(..., 12) as the Spark
    plan (ext.dedup.fs_em_weights). Pattern/em CTEs are MATERIALIZED —
    each round references the previous one many times and DuckDB 1.0
    would otherwise re-inline the chain exponentially (the kcore
    lesson)."""
    init = (
        f"em0 AS (SELECT CAST({p0!r} AS DOUBLE) AS p, "
        + ", ".join(f"CAST({m0!r} AS DOUBLE) AS m{j}" for j in (1, 2, 3))
        + ", "
        + ", ".join(f"CAST({u0!r} AS DOUBLE) AS u{j}" for j in (1, 2, 3))
        + ")"
    )
    parts = [
        """
    WITH pr0 AS (
      SELECT p_partkey, p_brand, p_size, p_name, p_type,
             CAST(round(p_retailprice) AS BIGINT) AS pr
      FROM part
    ),
    -- same max_block=10000 circuit breaker as the Spark pair generator
    -- (ext.dedup.blocked_er_pairs): oversized blocks contribute no
    -- pairs in either engine, keeping parity at every SF.
    pr AS MATERIALIZED (
      SELECT * FROM pr0
      WHERE (p_brand, p_size) IN (
        SELECT (p_brand, p_size) FROM pr0
        GROUP BY p_brand, p_size HAVING count(*) <= 10000
      )
    ),
    patt AS MATERIALIZED (
      SELECT g1, g2, g3, CAST(count(*) AS BIGINT) AS n
      FROM (
        SELECT CASE WHEN levenshtein(a.p_name, b.p_name) <= 4
                    THEN 1 ELSE 0 END AS g1,
               CASE WHEN a.p_type = b.p_type THEN 1 ELSE 0 END AS g2,
               CASE WHEN a.pr = b.pr THEN 1 ELSE 0 END AS g3
        FROM pr a
        JOIN pr b ON a.p_brand = b.p_brand AND a.p_size = b.p_size
                 AND a.p_partkey < b.p_partkey
      )
      GROUP BY 1, 2, 3
    ),
    """
        + init
    ]
    for r in range(1, iterations + 1):
        pm = "e.p" + "".join(
            f" * (CASE WHEN t.g{j} = 1 THEN e.m{j}"
            f" ELSE CAST(1.0 AS DOUBLE) - e.m{j} END)"
            for j in (1, 2, 3)
        )
        pu = "(CAST(1.0 AS DOUBLE) - e.p)" + "".join(
            f" * (CASE WHEN t.g{j} = 1 THEN e.u{j}"
            f" ELSE CAST(1.0 AS DOUBLE) - e.u{j} END)"
            for j in (1, 2, 3)
        )
        def _cl(x: str) -> str:
            # same clamp-after-round guard as the Spark M-step
            return (
                f"greatest(least(round({x}, 12),"
                f" CAST({1.0 - 1e-6!r} AS DOUBLE)),"
                f" CAST({1e-6!r} AS DOUBLE))"
            )

        sel_m = ", ".join(
            _cl(f"sum(nw * g{j}d) / sum(nw)") + f" AS m{j}"
            for j in (1, 2, 3)
        )
        sel_u = ", ".join(
            _cl(f"sum(nv * g{j}d) / sum(nv)") + f" AS u{j}"
            for j in (1, 2, 3)
        )
        parts.append(
            f""", em{r} AS MATERIALIZED (
      SELECT {_cl("sum(nw) / sum(nd)")} AS p, {sel_m}, {sel_u}
      FROM (
        SELECT CAST(t.n AS DOUBLE) AS nd,
               CAST(t.g1 AS DOUBLE) AS g1d,
               CAST(t.g2 AS DOUBLE) AS g2d,
               CAST(t.g3 AS DOUBLE) AS g3d,
               CAST(t.n AS DOUBLE) * (({pm}) / (({pm}) + ({pu}))) AS nw,
               CAST(t.n AS DOUBLE)
                 * (CAST(1.0 AS DOUBLE)
                    - (({pm}) / (({pm}) + ({pu})))) AS nv
        FROM patt t CROSS JOIN em{r - 1} e
      )
    )"""
        )
    selects = []
    for j, fname in ((1, "p_name"), (2, "p_type"), (3, "pr")):
        selects.append(
            f"""SELECT '{fname}' AS field,
           round(m{j}, 6) AS m, round(u{j}, 6) AS u,
           round(log2(m{j} / u{j}), 6) AS wa,
           round(log2((CAST(1.0 AS DOUBLE) - m{j})
                      / (CAST(1.0 AS DOUBLE) - u{j})), 6) AS wd
    FROM em{iterations}"""
        )
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("ext_fs_em_weights", oracle=_fs_em_oracle(5, 0.1, 0.9, 0.1))
def ext_fs_em_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EM-fitted Fellegi-Sunter (m, u) weights (ext.dedup.fs_em_weights;
    Winkler 1988) — the named upgrade of ext_fs_match_scores' fixed
    expert literals: the same parts-blocked-on-(brand, size) pair set
    and three agreement fields, collapsed to the <=8-row agreement-
    pattern sufficient-statistics table, then 5 unrolled EM rounds with
    every M-step parameter rounded to 12 decimals in BOTH engines so
    cross-engine float-summation drift cannot compound across rounds
    (the per-iteration form of the pagerank round-at-the-grid lever).
    Output: per-field fitted (m, u) and the log2 agreement/disagreement
    weights fs_match_scores would score with."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "pr", F.round("p_retailprice").cast("long")
    )
    return X.fs_em_weights(
        p,
        "p_partkey",
        ["p_brand", "p_size"],
        [("p_name", 4), ("p_type", "exact"), ("pr", "exact")],
        iterations=5,
        p0=0.1,
        m0=0.9,
        u0=0.1,
    )


@query(
    "ext_prefix_filter_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           round(inter * 1.0 / (na.n_sh + nb.n_sh - inter), 4) AS jaccard
    FROM inter
    JOIN sizes na ON na.doc_id = id_a
    JOIN sizes nb ON nb.doc_id = id_b
    WHERE inter * 1.0 / (na.n_sh + nb.n_sh - inter) >= 0.2
    """,
)
def ext_prefix_jaccard_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered set-similarity join
    (ext.dedup.prefix_filter_jaccard_pairs, Vernica/Carey/Li SIGMOD'10):
    only each document's df-ascending PREFIX is indexed, so the candidate
    space shrinks to pairs sharing a RARE shingle; verification joins the
    full sets. The oracle is deliberately the SAME brute-force full-index
    join that backs ext_dedup_ngram_jaccard — a green row certifies the
    prefix filter loses NO pair above the threshold (the pigeonhole
    completeness guarantee), while the engine's plan indexes a fraction
    of the shingles."""
    docs = load_table(spark, sf_dir, "documents")
    sh = X.word_shingles(docs, "doc_id", "text", n=3, hashed=True)
    return X.prefix_filter_jaccard_pairs(sh, "doc_id", threshold=0.2)


@query(
    "ext_matryoshka_recall",
    oracle="""
    WITH q AS (
      SELECT vec_id AS qid, CAST(embedding AS DOUBLE[]) AS qv
      FROM embeddings WHERE vec_id < 10
    ),
    c AS (
      SELECT vec_id AS nid, CAST(embedding AS DOUBLE[]) AS cv
      FROM embeddings
    ),
    d AS (SELECT unnest([8, 16, 32, 64]) AS dim),
    scored AS (
      SELECT d.dim, q.qid, c.nid,
             round(list_dot_product(list_slice(q.qv, 1, d.dim),
                                    list_slice(c.cv, 1, d.dim))
                   / (sqrt(list_dot_product(list_slice(q.qv, 1, d.dim),
                                            list_slice(q.qv, 1, d.dim)))
                      * sqrt(list_dot_product(list_slice(c.cv, 1, d.dim),
                                              list_slice(c.cv, 1, d.dim)))),
                   6) AS cos
      FROM d CROSS JOIN q JOIN c ON c.nid <> q.qid
    ),
    top AS (
      SELECT dim, qid, nid,
             row_number() OVER (PARTITION BY dim, qid
                                ORDER BY cos DESC, nid ASC) AS rn
      FROM scored
    ),
    t5 AS (SELECT dim, qid, nid FROM top WHERE rn <= 5),
    full5 AS (SELECT qid, nid FROM t5 WHERE dim = 64),
    m AS (
      SELECT t.dim, count(*) AS matched
      FROM t5 t JOIN full5 f ON f.qid = t.qid AND f.nid = t.nid
      WHERE t.dim <> 64
      GROUP BY 1
    )
    -- left-join the dim axis: zero-overlap dims emit an explicit 0.0 row
    SELECT CAST(d.dim AS INTEGER) AS dim,
           round(coalesce(m.matched, 0)
                 / (SELECT count(*) * 1.0 FROM full5), 4) AS recall
    FROM (SELECT unnest([8, 16, 32]) AS dim) d
    LEFT JOIN m ON m.dim = d.dim
    """,
)
def ext_matryoshka_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka truncation recall sweep
    (ext.similarity.matryoshka_recall): recall@5 of prefix-dimension
    cosine retrieval (dims 8/16/32) against the full 64-dim exact top-5,
    over the first 10 vectors as queries. One Arrow matmul pass scores
    every (query, dim); ranking on the ROUNDED cosine with id tie-break
    keeps numpy-vs-fold summation drift out of the selected sets."""
    emb = load_table(spark, sf_dir, "embeddings")
    qs = emb.filter(F.col("vec_id") < 10)
    from ..ext import similarity as SIM

    return SIM.matryoshka_recall(emb, qs, dims=(8, 16, 32), k=5)


@query(
    "rel_neyman_allocation",
    oracle="""
    WITH m AS (
      SELECT source AS stratum, count(*) AS n_stratum,
             sum(n_chars) AS s, sum(n_chars * n_chars) AS ss
      FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
    ),
    v AS (
      SELECT stratum, n_stratum,
             sqrt(greatest((ss - CAST(s AS DOUBLE) * s / n_stratum) / n_stratum, 0.0))
               AS sd
      FROM m
    ),
    w AS (SELECT *, n_stratum * sd AS wgt FROM v),
    t AS (SELECT sum(wgt) AS wt FROM w)
    SELECT stratum,
           CAST(n_stratum AS BIGINT) AS n_stratum,
           round(sd, 6) AS std,
           round(wgt / t.wt, 6) AS weight,
           CAST(round(200.0 * wgt / t.wt, 0) AS BIGINT) AS alloc
    FROM w CROSS JOIN t
    """,
)
def rel_neyman_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman-optimal stratified allocation of a 200-doc sample budget
    across document sources (operators.sample.neyman_allocation):
    n_h ∝ N_h·S_h from exact per-stratum integer moments — the variance-
    minimizing design step ahead of the stratified/weighted samplers
    already in the registry."""
    docs = load_table(spark, sf_dir, "documents")
    from ..operators.sample import neyman_allocation

    return neyman_allocation(docs, "source", "n_chars", total_n=200)


@query(
    "rel_golden_record",
    oracle="""
    WITH f AS (
      SELECT l_orderkey, l_linenumber, l_returnflag, l_linestatus,
             l_quantity,
             md5('v:' || CAST(l_orderkey AS VARCHAR) || ':'
                 || CAST(l_linenumber AS VARCHAR) || ':'
                 || l_returnflag || ':' || l_linestatus || ':'
                 || CAST(round(l_quantity) AS VARCHAR)) AS fp
      FROM lineitem
    ),
    v AS (
      SELECT l_orderkey,
             lpad(CAST(l_linenumber AS VARCHAR), 2, '0') || ':' || fp AS ver,
             CASE WHEN CAST('0x' || substr(md5('m1:' || fp), 1, 8)
                       AS BIGINT) % 10 < 3
                  THEN NULL ELSE l_returnflag END AS flag,
             CASE WHEN CAST('0x' || substr(md5('m2:' || fp), 1, 8)
                       AS BIGINT) % 10 < 4
                  THEN NULL ELSE l_linestatus END AS stat,
             CASE WHEN CAST('0x' || substr(md5('m3:' || fp), 1, 8)
                       AS BIGINT) % 10 < 5
                  THEN NULL
                  ELSE CAST(round(l_quantity) AS BIGINT) END AS qty
      FROM f
    ),
    g AS (
      SELECT l_orderkey AS entity, ver,
             last_value(flag IGNORE NULLS) OVER w AS flag,
             last_value(stat IGNORE NULLS) OVER w AS stat,
             last_value(qty IGNORE NULLS) OVER w AS qty
      FROM v
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY ver
                   ROWS BETWEEN UNBOUNDED PRECEDING
                            AND UNBOUNDED FOLLOWING)
    )
    SELECT entity, flag, stat, qty
    FROM g
    QUALIFY row_number() OVER (PARTITION BY entity ORDER BY ver DESC) = 1
    """,
)
def rel_golden_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Golden-record survivorship (ext.dedup.golden_record): per order,
    each attribute's latest non-null value across its line versions —
    attributes are deterministically MASKED to null at 30/40/50% rates
    (md5 gate on a per-row fingerprint, replayed by the oracle) so the
    ignore-nulls window machinery is exercised for real. The version
    order is (linenumber, row fingerprint): the harness lineitem has
    DUPLICATE linenumbers per order, so a bare linenumber sort is not a
    total order and the surviving value would be engine-dependent —
    exactly the nondeterminism a survivorship policy must engineer out
    (full-duplicate rows may still tie, but ties then carry identical
    values). One shuffle on the entity key resolves every attribute."""
    li = load_table(spark, sf_dir, "lineitem")
    fp = F.md5(
        F.concat_ws(
            ":",
            F.lit("v"),
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            F.col("l_returnflag"),
            F.col("l_linestatus"),
            F.round("l_quantity").cast("string"),
        )
    )

    def gate(salt: str, pct: int):
        h = F.substring(F.md5(F.concat(F.lit(salt), F.col("__fp"))), 1, 8)
        return F.pmod(F.conv(h, 16, 10).cast("long"), F.lit(10)) < pct

    v = li.withColumn("__fp", fp).select(
        "l_orderkey",
        F.concat(
            F.lpad(F.col("l_linenumber").cast("string"), 2, "0"),
            F.lit(":"),
            F.col("__fp"),
        ).alias("ver"),
        F.when(gate("m1:", 3), F.lit(None)).otherwise(F.col("l_returnflag")).alias("flag"),
        F.when(gate("m2:", 4), F.lit(None)).otherwise(F.col("l_linestatus")).alias("stat"),
        F.when(gate("m3:", 5), F.lit(None))
        .otherwise(F.round("l_quantity").cast("long"))
        .alias("qty"),
    )
    return X.golden_record(v, "l_orderkey", "ver", ["flag", "stat", "qty"])


@query(
    "ext_doremi_reweight",
    oracle="""
    WITH t0 AS (
      SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ), t AS (
      SELECT * FROM t0 WHERE tok <> ''
    ), c AS (
      SELECT tok, count(*) AS n_tok FROM t GROUP BY tok
    ), tot AS (
      SELECT sum(n_tok) AS n_total FROM c
    ), p AS (
      SELECT tok, ln(n_tok * 1.0 / n_total) AS logp FROM c, tot
    ), pd AS (
      SELECT t.doc_id, round(avg(p.logp), 4) AS avg_logp
      FROM t JOIN p USING (tok) GROUP BY t.doc_id
    ), ws AS (
      SELECT d.source, pd.avg_logp
      FROM pd JOIN documents d USING (doc_id)
    ), ps AS (
      SELECT source, count(*) AS n_docs, avg(-avg_logp) AS loss
      FROM ws GROUP BY 1
    ), o AS (
      SELECT avg(-avg_logp) AS base, count(*) AS n_all FROM ws
    ), raw AS (
      SELECT source, n_docs, loss, loss - base AS excess,
             (n_docs * 1.0 / n_all) * exp(1.0 * (loss - base)) AS w
      FROM ps CROSS JOIN o
    ), z AS (SELECT sum(w) AS zz FROM raw)
    SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
           round(loss, 6) AS mean_loss,
           round(excess, 6) AS excess,
           round(w / z.zz, 6) AS weight
    FROM raw CROSS JOIN z
    """,
)
def ext_doremi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi-style domain-reweighting step (ext.text.doremi_reweight,
    Xie et al. 2023): sources scoring worse under the corpus-unigram
    reference LM get weight × exp(η·excess_loss), renormalized — the
    mixture update an LLM data pipeline runs per proxy iteration. Builds
    on the hash-certified unigram scorer; per-doc scores enter ROUNDED so
    both engines average identical inputs."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.doremi_reweight(docs, "doc_id", "text", "source", eta=1.0)


@query(
    "rel_median_ci",
    oracle="""
    WITH r AS (
      SELECT o_orderpriority AS grp, o_totalprice AS v,
             row_number() OVER (PARTITION BY o_orderpriority
                                ORDER BY o_totalprice, o_orderkey) AS rn,
             count(*) OVER (PARTITION BY o_orderpriority) AS n
      FROM orders
    )
    SELECT grp, CAST(n AS BIGINT) AS n,
           round(max(CASE WHEN rn = CAST(floor((n + 1) / 2) AS BIGINT)
                          THEN v END), 4) AS median,
           round(max(CASE WHEN rn = greatest(
                       CAST(floor((n - 1.96 * sqrt(n)) / 2) AS BIGINT), 1)
                          THEN v END), 4) AS ci_lo,
           round(max(CASE WHEN rn = least(
                       CAST(ceil(1.0 + (n + 1.96 * sqrt(n)) / 2) AS BIGINT),
                       n)
                          THEN v END), 4) AS ci_hi
    FROM r GROUP BY grp, n
    """,
)
def rel_median_ci_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-free median CI per priority (operators.agg.median_ci):
    the binomial/sign-test order-statistic bound — the interval comes from
    two ranks, no bootstrap replicates (ts_bootstrap_ci costs B×n draws;
    this is one sort and three conditional picks). Rank and count windows
    share one exchange."""
    from ..operators.agg import median_ci

    o = load_table(spark, sf_dir, "orders")
    return median_ci(o, "o_orderpriority", "o_totalprice", "o_orderkey")


@query(
    "ts_stream_left_outer",
    oracle="""
    WITH c AS (
      SELECT event_id AS click_id, user_id, ts AS click_ts
      FROM events WHERE event_type = 'click'
    ),
    p AS (
      SELECT event_id AS purchase_id, user_id AS pu, ts AS purchase_ts,
             value AS purchase_value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id, c.click_ts,
           p.purchase_id, p.purchase_ts, p.purchase_value
    FROM c
    LEFT JOIN p ON p.pu = c.user_id
               AND c.click_ts <= p.purchase_ts
               AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    """,
)
def ts_stream_left_outer_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join, HASH-CERTIFIED against the
    plain batch LEFT JOIN (streaming.joins.clicks_left_outer_purchases):
    clicks with their attributed purchases PLUS a null-purchase row for
    every click proven unmatched. Promoted from rows-only (round-6
    verdict task 7) via a SENTINEL-FLUSH construction that makes the
    emitted set batch-boundary-independent:

    - the events table streams as three ascending time-range files (the
      sessionize multibatch harness), then a 4th file carrying one
      far-future sentinel CLICK (ts = max + 10 days + 2h, user −1) and
      one far-future sentinel PURCHASE (ts = max + 10 days, user −2);
    - the global outer-join watermark is min(max click ts, max purchase
      ts) − delay ACROSS THE TWO FILTERED BRANCHES (measured: a quiet
      purchase side pins it — the r5 stalled-side hazard), so the
      sentinel pair drives the final watermark to max + 10 days − 2h,
      strictly past every REAL click's click_ts + 1h horizon;
    - availableNow's trailing no-data batch then evicts and emits every
      unmatched real click's null row, while the sentinels themselves
      stay inside the horizon (the click, unmatched by construction:
      purchase precedes it and users differ) or never surface (the
      purchase). Real rows can never be late: range files are
      ts-contiguous, so every event's ts ≥ the previous file's max ≥
      watermark + delay.

    The streamed set therefore EQUALS the batch left interval join over
    the real events — which is exactly the oracle SQL. The >= 5 batch
    assertion keeps the entry honest about exercising cross-batch
    state + the flush."""
    import glob as _glob
    import os

    from ..streaming.events import read_event_stream
    from ..streaming.joins import clicks_left_outer_purchases

    events = load_table(spark, sf_dir, "events")
    sent = spark.createDataFrame(
        [
            (-1, -1, "click", 0.0, ""),
            (-2, -2, "purchase", 0.0, ""),
        ],
        "event_id long, user_id long, event_type string, "
        "value double, props string",
    ).crossJoin(events.agg(F.max("ts").alias("max_ts"))).select(
        "event_id",
        F.when(F.col("event_type") == "click",
               F.col("max_ts") + F.expr("INTERVAL 10 DAYS 2 HOURS"))
        .otherwise(F.col("max_ts") + F.expr("INTERVAL 10 DAYS"))
        .alias("ts"),
        "user_id", "event_type", "value", "props",
    )
    src = write_replay_source(
        scratch_dir(spark, sf_dir, "stream_louter"),
        [exact_ranges(events, "ts", 3), sent.coalesce(1)],
    )
    sink = "ts_stream_left_outer_sink"
    stream = read_event_stream(spark, src, glob="*.parquet",
                               max_files_per_trigger=1)
    joined = clicks_left_outer_purchases(
        stream.filter(F.col("event_type") == "click"),
        stream.filter(F.col("event_type") == "purchase"),
        max_gap="1 hour",
        watermark="2 hours",
    )
    q = run_stream(joined, sink)
    # Honesty check: with maxFilesPerTrigger=1 every written part file is
    # its own micro-batch. Count the actual files rather than assuming
    # exact_ranges(3) produced 3 (an empty range at a tiny SF
    # writes no file), and cap at the recentProgress retention window so
    # a trimmed progress buffer can't abort the whole sweep (ADVICE r7).
    n_files = len(_glob.glob(os.path.join(src, "part-*.parquet")))
    n_batches = len(q.recentProgress)
    # Cap at the ACTUAL progress-buffer retention (default 100), not a
    # literal small constant — min(n_files, 2) made the per-file
    # expectation nearly vacuous (a stream that processed 2 of 6 files
    # would have passed; r9 ADVICE fix).
    retention = int(
        spark.conf.get("spark.sql.streaming.numRecentProgressUpdates", "100")
    )
    expected = min(n_files, retention)
    assert n_batches >= expected, (
        f"expected >={expected} micro-batches for {n_files} files, "
        f"got {n_batches}"
    )
    return take_sink(spark, sink).filter(F.col("user_id") >= 0)


@query(
    "ts_rate_limit_tokens",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), tb AS (
      SELECT user_id, event_id, rn, ts_us,
             CAST(3 * 3600000000 - 3600000000 AS BIGINT) AS tokens,
             TRUE AS admitted
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.rn, b.ts_us,
             CAST(CASE WHEN least(3 * 3600000000,
                               h.tokens + 6 * (b.ts_us - h.ts_us))
                            >= 3600000000
                       THEN least(3 * 3600000000,
                                  h.tokens + 6 * (b.ts_us - h.ts_us))
                            - 3600000000
                       ELSE least(3 * 3600000000,
                                  h.tokens + 6 * (b.ts_us - h.ts_us))
                  END AS BIGINT) AS tokens,
             least(3 * 3600000000, h.tokens + 6 * (b.ts_us - h.ts_us))
               >= 3600000000 AS admitted
      FROM base b JOIN tb h ON b.user_id = h.user_id AND b.rn = h.rn + 1
    )
    SELECT event_id, user_id, rn, admitted, tokens FROM tb
    """,
)
def ts_rate_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiting per user (capacity 3, refill 6/hour;
    operators.timeseries.token_bucket_admission): the API-throttling
    recurrence — min() + conditional spend, so no window form exists and
    it runs as the sorted-partition mapInPandas carry (the clamped-
    balance family). All arithmetic int64 on µs-scaled tokens; the
    recursive-CTE oracle replays it exactly."""
    from ..operators.timeseries import token_bucket_admission

    ev = load_table(spark, sf_dir, "events")
    return token_bucket_admission(
        ev, "user_id", "ts", "event_id", rate_per_hour=6, capacity=3
    )


@query(
    "rel_correlation_matrix",
    oracle="""
    WITH m AS (
      SELECT count(*) AS n,
             sum(l_quantity) AS s_q,
             sum(l_quantity * l_quantity) AS ss_q,
             sum(l_extendedprice) AS s_e,
             sum(l_extendedprice * l_extendedprice) AS ss_e,
             sum(l_discount) AS s_d,
             sum(l_discount * l_discount) AS ss_d,
             sum(l_quantity * l_extendedprice) AS sp_qe,
             sum(l_quantity * l_discount) AS sp_qd,
             sum(l_extendedprice * l_discount) AS sp_ed
      FROM lineitem
    )
    SELECT 'l_quantity' AS col_a, 'l_extendedprice' AS col_b,
           CAST(n AS BIGINT) AS n,
           round((n * sp_qe - s_q * s_e)
                 / sqrt((n * ss_q - s_q * s_q) * (n * ss_e - s_e * s_e)), 6)
             AS r
    FROM m
    UNION ALL
    SELECT 'l_quantity', 'l_discount', CAST(n AS BIGINT),
           round((n * sp_qd - s_q * s_d)
                 / sqrt((n * ss_q - s_q * s_q) * (n * ss_d - s_d * s_d)), 6)
    FROM m
    UNION ALL
    SELECT 'l_extendedprice', 'l_discount', CAST(n AS BIGINT),
           round((n * sp_ed - s_e * s_d)
                 / sqrt((n * ss_e - s_e * s_e) * (n * ss_d - s_d * s_d)), 6)
    FROM m
    """,
)
def rel_corr_matrix_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation matrix over lineitem measures
    (operators.agg.correlation_matrix): all raw moments in ONE
    map-side-combinable pass (k² corr() calls would scan per pair, and
    engines' Welford internals differ — the moment form is the
    cross-engine-stable one). Long format (col_a < col_b)."""
    from ..operators.agg import correlation_matrix

    li = load_table(spark, sf_dir, "lineitem")
    return correlation_matrix(
        li, ["l_quantity", "l_extendedprice", "l_discount"]
    )


@query(
    "ml_learning_curve",
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y,
             (CAST('0x' || substr(md5('lc:' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS gate,
             (CAST('0x' || substr(md5('hold:' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS hu
      FROM orders
    ),
    tm AS (
      SELECT sum(CASE WHEN gate < 0.1 THEN 1 END) AS n_0,
             sum(CASE WHEN gate < 0.1 THEN x END) AS sx_0,
             sum(CASE WHEN gate < 0.1 THEN y END) AS sy_0,
             sum(CASE WHEN gate < 0.1 THEN x * y END) AS sxy_0,
             sum(CASE WHEN gate < 0.1 THEN x * x END) AS sxx_0,
             sum(CASE WHEN gate < 0.25 THEN 1 END) AS n_1,
             sum(CASE WHEN gate < 0.25 THEN x END) AS sx_1,
             sum(CASE WHEN gate < 0.25 THEN y END) AS sy_1,
             sum(CASE WHEN gate < 0.25 THEN x * y END) AS sxy_1,
             sum(CASE WHEN gate < 0.25 THEN x * x END) AS sxx_1,
             sum(CASE WHEN gate < 0.5 THEN 1 END) AS n_2,
             sum(CASE WHEN gate < 0.5 THEN x END) AS sx_2,
             sum(CASE WHEN gate < 0.5 THEN y END) AS sy_2,
             sum(CASE WHEN gate < 0.5 THEN x * y END) AS sxy_2,
             sum(CASE WHEN gate < 0.5 THEN x * x END) AS sxx_2,
             sum(CASE WHEN gate < 1.0 THEN 1 END) AS n_3,
             sum(CASE WHEN gate < 1.0 THEN x END) AS sx_3,
             sum(CASE WHEN gate < 1.0 THEN y END) AS sy_3,
             sum(CASE WHEN gate < 1.0 THEN x * y END) AS sxy_3,
             sum(CASE WHEN gate < 1.0 THEN x * x END) AS sxx_3
      FROM u WHERE hu >= 0.2
    ),
    hm AS (
      SELECT count(*) AS nh, sum(y) AS hsy, sum(y * y) AS hsyy,
             sum(x) AS hsx, sum(x * x) AS hsxx, sum(x * y) AS hsxy
      FROM u WHERE hu < 0.2
    ),
    fits AS (
      SELECT tm.*, hm.*,
           (n_0 * sxy_0 - sx_0 * sy_0) / (n_0 * sxx_0 - sx_0 * sx_0) AS b_0,
           (n_1 * sxy_1 - sx_1 * sy_1) / (n_1 * sxx_1 - sx_1 * sx_1) AS b_1,
           (n_2 * sxy_2 - sx_2 * sy_2) / (n_2 * sxx_2 - sx_2 * sx_2) AS b_2,
           (n_3 * sxy_3 - sx_3 * sy_3) / (n_3 * sxx_3 - sx_3 * sx_3) AS b_3,
           (sy_0 - ((n_0 * sxy_0 - sx_0 * sy_0) / (n_0 * sxx_0 - sx_0 * sx_0)) * sx_0) / n_0 AS a_0,
           (sy_1 - ((n_1 * sxy_1 - sx_1 * sy_1) / (n_1 * sxx_1 - sx_1 * sx_1)) * sx_1) / n_1 AS a_1,
           (sy_2 - ((n_2 * sxy_2 - sx_2 * sy_2) / (n_2 * sxx_2 - sx_2 * sx_2)) * sx_2) / n_2 AS a_2,
           (sy_3 - ((n_3 * sxy_3 - sx_3 * sy_3) / (n_3 * sxx_3 - sx_3 * sx_3)) * sx_3) / n_3 AS a_3
      FROM tm CROSS JOIN hm
    )
    SELECT CAST(0.1 AS DOUBLE) AS fraction, CAST(n_0 AS BIGINT) AS n_train,
           round(1.0 - (hsyy + nh * a_0 * a_0 + b_0 * b_0 * hsxx
                        - 2.0 * a_0 * hsy - 2.0 * b_0 * hsxy
                        + 2.0 * a_0 * b_0 * hsx)
                 / (hsyy - hsy * hsy / nh), 6) AS r2
    FROM fits
    UNION ALL
    SELECT CAST(0.25 AS DOUBLE) AS fraction, CAST(n_1 AS BIGINT) AS n_train,
           round(1.0 - (hsyy + nh * a_1 * a_1 + b_1 * b_1 * hsxx
                        - 2.0 * a_1 * hsy - 2.0 * b_1 * hsxy
                        + 2.0 * a_1 * b_1 * hsx)
                 / (hsyy - hsy * hsy / nh), 6) AS r2
    FROM fits
    UNION ALL
    SELECT CAST(0.5 AS DOUBLE) AS fraction, CAST(n_2 AS BIGINT) AS n_train,
           round(1.0 - (hsyy + nh * a_2 * a_2 + b_2 * b_2 * hsxx
                        - 2.0 * a_2 * hsy - 2.0 * b_2 * hsxy
                        + 2.0 * a_2 * b_2 * hsx)
                 / (hsyy - hsy * hsy / nh), 6) AS r2
    FROM fits
    UNION ALL
    SELECT CAST(1.0 AS DOUBLE) AS fraction, CAST(n_3 AS BIGINT) AS n_train,
           round(1.0 - (hsyy + nh * a_3 * a_3 + b_3 * b_3 * hsxx
                        - 2.0 * a_3 * hsy - 2.0 * b_3 * hsxy
                        + 2.0 * a_3 * b_3 * hsx)
                 / (hsyy - hsy * hsy / nh), 6) AS r2
    FROM fits
    """,
)
def ml_learning_curve_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OLS sample-efficiency curve (ml.eval.learning_curve_ols): R² on a
    fixed md5-gated holdout for NESTED train subsets at 10/25/50/100%% of
    the train pool (shared uniform gate — each subset contains the
    previous). Two scans total: every subset's moments are conditional
    sums in one aggregate, all fits score in one holdout pass. Exact
    arithmetic end-to-end: x (order year) and y (integer cents) are
    integer-valued doubles, so every moment sums exactly below 2^53 and
    both engines divide identical operands."""
    from ..ml.eval import learning_curve_ols

    o = load_table(spark, sf_dir, "orders")

    def unif(salt):
        h = F.substring(
            F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string"))),
            1,
            8,
        )
        return (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)

    base = o.select(
        F.year("o_orderdate").cast("double").alias("x"),
        (F.round(F.col("o_totalprice") * 100).cast("long") * 1.0).alias("y"),
        unif("lc:").alias("gate"),
        (unif("hold:") < 0.2).alias("holdout"),
    )
    return learning_curve_ols(
        base, "gate", "holdout", "x", "y", fractions=(0.1, 0.25, 0.5, 1.0)
    )


@query(
    "ml_conformal_intervals",
    oracle="""
    WITH u AS (
      SELECT o_orderkey,
             CAST(year(o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y,
             (CAST('0x' || substr(md5('conf:' ||
                CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS uu
      FROM orders
    ),
    roles AS (
      SELECT o_orderkey AS id, x, y,
             CASE WHEN uu < 0.6 THEN 'train'
                  WHEN uu < 0.8 THEN 'calib'
                  ELSE 'test' END AS role
      FROM u
    ),
    tm AS (
      SELECT count(*) AS n_train, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM roles WHERE role = 'train'
    ),
    fit AS (
      SELECT n_train,
             (n_train * sxy - sx * sy) / (n_train * sxx - sx * sx) AS b,
             sx, sy
      FROM tm
    ),
    fit2 AS (SELECT n_train, b, (sy - b * sx) / n_train AS a FROM fit),
    cal AS (
      SELECT r.id, abs(r.y - (f.a + f.b * r.x)) AS res
      FROM roles r CROSS JOIN fit2 f WHERE r.role = 'calib'
    ),
    calr AS (
      SELECT res,
             row_number() OVER (ORDER BY res ASC, id ASC) AS rn,
             count(*) OVER () AS n_calib
      FROM cal
    ),
    q AS (
      SELECT n_calib, res AS q_hat FROM calr
      WHERE rn = least(CAST(ceil((n_calib + 1) * 0.9) AS BIGINT), n_calib)
    )
    SELECT f.n_train AS n_train,
           CAST(q.n_calib AS BIGINT) AS n_calib,
           CAST(count(*) AS BIGINT) AS n_test,
           round(max(f.b), 6) AS slope,
           round(max(f.a), 2) AS intercept,
           round(max(q.q_hat), 4) AS q_hat,
           round(avg(CAST(abs(r.y - (f.a + f.b * r.x)) <= q.q_hat
                          AS DOUBLE)), 4) AS coverage
    FROM roles r CROSS JOIN fit2 f CROSS JOIN q
    WHERE r.role = 'test'
    GROUP BY f.n_train, q.n_calib
    """,
)
def ml_conformal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split conformal prediction intervals (ml.eval.conformal_intervals,
    Lei et al. 2018): closed-form OLS on the md5 train split, interval
    half-width = the ceil((n+1)·0.9)-th smallest absolute calibration
    residual (order statistic, not approx-percentile), realized coverage
    reported on the test split — by exchangeability it lands near 0.9,
    which the entry certifies with exact arithmetic end-to-end (integer-
    valued doubles sum exactly below 2^53)."""
    from ..ml.eval import conformal_intervals

    o = load_table(spark, sf_dir, "orders")

    def unif(salt):
        h = F.substring(
            F.md5(F.concat(F.lit(salt), F.col("o_orderkey").cast("string"))),
            1,
            8,
        )
        return (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)

    base = o.select(
        F.col("o_orderkey").alias("id"),
        F.year("o_orderdate").cast("double").alias("x"),
        (F.round(F.col("o_totalprice") * 100).cast("long") * 1.0).alias("y"),
        F.when(unif("conf:") < 0.6, "train")
        .when(unif("conf:") < 0.8, "calib")
        .otherwise("test")
        .alias("role"),
    )
    return conformal_intervals(base, "role", "x", "y", "id", alpha=0.1)


@query(
    "ts_shapley_attribution",
    oracle="""
    WITH touched AS (
      SELECT DISTINCT user_id AS u, event_type AS t FROM events
      WHERE event_type IN ('click', 'error', 'signup', 'view')
    ),
    masks AS (
      SELECT u, sum(CASE t WHEN 'click' THEN 1 WHEN 'error' THEN 2
                           WHEN 'signup' THEN 4 WHEN 'view' THEN 8
                           ELSE 0 END) AS mask
      FROM touched GROUP BY u
    ),
    conv AS (
      SELECT DISTINCT user_id AS u FROM events
      WHERE event_type = 'purchase'
    ),
    exact AS (
      SELECT m.mask,
             sum(CASE WHEN c.u IS NOT NULL THEN 1 ELSE 0 END) AS n_conv
      FROM masks m LEFT JOIN conv c ON c.u = m.u
      GROUP BY 1
    ),
    allm AS (SELECT unnest(range(0, 16)) AS m),
    -- zeta transform: v(S) = conversions from users whose set is a SUBSET
    v AS (
      SELECT a.m, CAST(coalesce(sum(e.n_conv), 0) AS DOUBLE) AS v
      FROM allm a LEFT JOIN exact e ON (e.mask & a.m) = e.mask
      GROUP BY 1
    ),
    axis(channel, m_with, m_without, w) AS (VALUES
      ('click', 1, 0, CAST(0.25 AS DOUBLE)),
      ('click', 3, 2, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 5, 4, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 9, 8, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 7, 6, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 11, 10, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 13, 12, CAST(0.08333333333333333 AS DOUBLE)),
      ('click', 15, 14, CAST(0.25 AS DOUBLE)),
      ('error', 2, 0, CAST(0.25 AS DOUBLE)),
      ('error', 3, 1, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 6, 4, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 10, 8, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 7, 5, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 11, 9, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 14, 12, CAST(0.08333333333333333 AS DOUBLE)),
      ('error', 15, 13, CAST(0.25 AS DOUBLE)),
      ('signup', 4, 0, CAST(0.25 AS DOUBLE)),
      ('signup', 5, 1, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 6, 2, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 12, 8, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 7, 3, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 13, 9, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 14, 10, CAST(0.08333333333333333 AS DOUBLE)),
      ('signup', 15, 11, CAST(0.25 AS DOUBLE)),
      ('view', 8, 0, CAST(0.25 AS DOUBLE)),
      ('view', 9, 1, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 10, 2, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 12, 4, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 11, 3, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 13, 5, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 14, 6, CAST(0.08333333333333333 AS DOUBLE)),
      ('view', 15, 7, CAST(0.25 AS DOUBLE))
    )
    SELECT a.channel,
           round(sum(a.w * (coalesce(vw.v, 0.0) - coalesce(vo.v, 0.0))), 6)
             AS shapley
    FROM axis a
    LEFT JOIN v vw ON vw.m = a.m_with
    LEFT JOIN v vo ON vo.m = a.m_without
    GROUP BY 1
    """,
)
def ts_shapley_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Shapley channel attribution
    (operators.timeseries.shapley_attribution): MONOTONE coalition
    value v(S) = conversions from users whose touched set is a SUBSET of
    S (zeta transform — the convention under which null-player and
    efficiency axioms hold on observed data), credits from the 32-row static (channel, with,
    without, weight) axis with factorial weights pre-computed as double
    literals. Exponential in CHANNELS (4), one pass over the data —
    the axiomatically-fair counterpart to rows_markov_attribution."""
    from ..operators.timeseries import shapley_attribution

    ev = load_table(spark, sf_dir, "events")
    return shapley_attribution(ev, "user_id", "event_type")


@query(
    "ts_theil_sen_trend",
    oracle="""
    WITH base AS (
      SELECT user_id AS k, epoch_us(ts) AS t_us, event_id AS i,
             CAST(round(value * 100) AS BIGINT) AS c
      FROM events
    ),
    pairs AS (
      SELECT a.k, a.i AS i1, b.i AS i2,
             (b.c - a.c) * 3600000000.0 / (b.t_us - a.t_us) AS slope
      FROM base a JOIN base b ON b.k = a.k AND b.t_us > a.t_us
    ),
    r AS (
      SELECT k, slope,
             row_number() OVER (PARTITION BY k
                                ORDER BY slope, i1, i2) AS rn,
             count(*) OVER (PARTITION BY k) AS n_pairs
      FROM pairs
    )
    SELECT k AS user_id, CAST(n_pairs AS BIGINT) AS n_pairs,
           round(slope, 6) AS slope_cents_per_hour
    FROM r WHERE rn = CAST(floor((n_pairs + 1) / 2) AS BIGINT)
    """,
)
def ts_theil_sen_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user Theil-Sen robust spend trend
    (operators.timeseries.theil_sen_trend): median of all pairwise
    slopes, outlier-resistant where the OLS slope is not. Pair volume is
    Σ_k n_k² — per-key-bounded, equi-joined on the key, never cartesian;
    the median is a lower order statistic with (i1, i2) tie-break."""
    from ..operators.timeseries import theil_sen_trend

    ev = load_table(spark, sf_dir, "events")
    return theil_sen_trend(ev, "user_id", "ts", "event_id", "value")


@query(
    "ml_loso_influence",
    oracle="""
    WITH u AS (
      SELECT l_returnflag AS g, l_quantity AS x,
             CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE) AS y,
             (CAST('0x' || substr(md5('ls:' ||
                CAST(l_orderkey AS VARCHAR) || ':' ||
                CAST(l_linenumber AS VARCHAR) || ':' ||
                CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS hu
      FROM lineitem
    ),
    pg AS (
      SELECT g, count(*) AS n_g, sum(x) AS sx_g, sum(y) AS sy_g,
             sum(x * y) AS sxy_g, sum(x * x) AS sxx_g
      FROM u WHERE hu >= 0.2 GROUP BY 1
    ),
    tt AS (
      SELECT sum(n_g) AS n_t, sum(sx_g) AS sx_t, sum(sy_g) AS sy_t,
             sum(sxy_g) AS sxy_t, sum(sxx_g) AS sxx_t
      FROM pg
    ),
    hm AS (
      SELECT count(*) AS nh, sum(y) AS hsy, sum(y * y) AS hsyy,
             sum(x) AS hsx, sum(x * x) AS hsxx, sum(x * y) AS hsxy
      FROM u WHERE hu < 0.2
    ),
    rows_ AS (
      SELECT CAST(g AS VARCHAR) AS excluded,
             n_g, sx_g, sy_g, sxy_g, sxx_g
      FROM pg
      UNION ALL
      SELECT '(none)', 0, 0.0, 0.0, 0.0, 0.0
    ),
    fits AS (
      SELECT excluded,
             (n_t - n_g) AS n_train,
             nh, hsy, hsyy, hsx, hsxx, hsxy,
             ((n_t - n_g) * (sxy_t - sxy_g) - (sx_t - sx_g) * (sy_t - sy_g))
               / ((n_t - n_g) * (sxx_t - sxx_g)
                  - (sx_t - sx_g) * (sx_t - sx_g)) AS b,
             (sx_t - sx_g) AS sxd,
             (sy_t - sy_g) AS syd
      FROM rows_ CROSS JOIN tt CROSS JOIN hm
    ),
    fits2 AS (SELECT *, (syd - b * sxd) / n_train AS a FROM fits),
    sc AS (
      SELECT excluded, n_train,
             1.0 - (hsyy + nh * a * a + b * b * hsxx
                    - 2.0 * a * hsy - 2.0 * b * hsxy + 2.0 * a * b * hsx)
                   / (hsyy - hsy * hsy / nh) AS r2
      FROM fits2
    )
    SELECT s.excluded, CAST(s.n_train AS BIGINT) AS n_train,
           round(s.r2, 6) AS r2,
           round(s.r2 - f.r2, 6) + 0.0 AS r2_delta
    FROM sc s CROSS JOIN (SELECT r2 FROM sc WHERE excluded = '(none)') f
    """,
)
def ml_loso_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out influence (ml.eval.loso_influence): holdout
    R² delta of the price~quantity OLS when each returnflag segment's
    rows are removed from training — total-minus-group moment arithmetic,
    never a re-scan per group. The held-out-utility counterpart to
    ext_doremi_reweight's loss-based mixture step."""
    from ..ml.eval import loso_influence

    li = load_table(spark, sf_dir, "lineitem")
    h = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.lit("ls"),
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
            )
        ),
        1,
        8,
    )
    base = li.select(
        F.col("l_returnflag").alias("g"),
        F.col("l_quantity").alias("x"),
        (F.round(F.col("l_extendedprice") * 100).cast("long") * 1.0).alias("y"),
        (
            (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0) < 0.2
        ).alias("holdout"),
    )
    return loso_influence(base, "g", "holdout", "x", "y")


@query(
    "ts_decayed_topk",
    oracle="""
    WITH anchor AS (SELECT max(epoch_us(ts)) AS T FROM events),
    w AS (
      SELECT user_id AS key,
             value * pow(2.0, -(a.T - epoch_us(ts)) / 86400000000.0) AS wv
      FROM events CROSS JOIN anchor a
    ),
    per AS (
      SELECT key, count(*) AS n_events, sum(wv) AS s FROM w GROUP BY 1
    )
    SELECT CAST(row_number() OVER (ORDER BY round(s, 6) DESC, key ASC)
                AS INTEGER) AS rank,
           key, CAST(n_events AS BIGINT) AS n_events,
           round(s, 6) AS decayed_score
    FROM per
    QUALIFY rank <= 20
    """,
)
def ts_decayed_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially-decayed top spenders (24h half-life;
    operators.timeseries.decayed_topk): freshness-weighted leaderboard —
    one 1-row anchor broadcast, one combinable weighted sum per key, a
    top-k window on the key table; ranking on the ROUNDED score with key
    tie-break keeps pow/summation drift out of the selected set."""
    from ..operators.timeseries import decayed_topk

    ev = load_table(spark, sf_dir, "events")
    return decayed_topk(ev, "user_id", "ts", "value", half_life_hours=24.0)


@query(
    "rel_l_diversity",
    oracle="""
    SELECT o_custkey,
           CAST(count(*) AS BIGINT) AS class_size,
           CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS l_distinct,
           count(DISTINCT o_orderstatus) < 2 AS violates
    FROM orders
    GROUP BY 1
    """,
)
def rel_l_diversity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit (operators.agg.l_diversity_audit, Machanavajjhala
    et al. 2007): per customer equivalence class, the distinct count of
    the sensitive order-status attribute — a k-safe class with one status
    still leaks it. The companion to rel_k_anonymity; one group-by,
    class-cardinality output."""
    from ..operators.agg import l_diversity_audit

    o = load_table(spark, sf_dir, "orders")
    return l_diversity_audit(o, ["o_custkey"], "o_orderstatus", l_threshold=2)


@query(
    "ext_source_centroid_sim",
    oracle="""
    WITH e AS (
      SELECT d.source AS src, CAST(em.embedding AS DOUBLE[]) AS v
      FROM embeddings em JOIN documents d ON d.doc_id = em.vec_id
    ),
    comp AS (
      SELECT src, i AS pos, avg(v[i]) AS m
      FROM e, unnest(generate_series(1, len(v))) AS t(i)
      GROUP BY 1, 2
    ),
    cent AS (SELECT src, list(m ORDER BY pos) AS c FROM comp GROUP BY 1)
    SELECT a.src AS source_a, b.src AS source_b,
           round(list_dot_product(a.c, b.c)
                 / (sqrt(list_dot_product(a.c, a.c))
                    * sqrt(list_dot_product(b.c, b.c))), 6) AS cosine
    FROM cent a JOIN cent b ON a.src < b.src
    """,
)
def ext_src_centroid_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source embedding geometry
    (ext.similarity.source_centroid_similarity): pairwise cosine between
    per-source mean vectors (embeddings joined to documents on id) —
    near-1 centroids flag semantically redundant crawls; the dense-space
    complement of ext_domain_divergence's token KL. One combinable
    (source, dim) aggregate; the pair stage is |sources|²."""
    from ..ext.similarity import source_centroid_similarity

    emb = load_table(spark, sf_dir, "embeddings")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    joined = emb.join(docs, emb.vec_id == docs.doc_id).select(
        "source", "embedding"
    )
    return source_centroid_similarity(joined, "source", "embedding")


@query(
    "ts_stream_rate_limit",
    oracle="""
    WITH RECURSIVE base AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ), tb AS (
      SELECT user_id, event_id, rn, ts_us,
             CAST(3 * 3600000000 - 3600000000 AS BIGINT) AS tokens,
             TRUE AS admitted
      FROM base WHERE rn = 1
      UNION ALL
      SELECT b.user_id, b.event_id, b.rn, b.ts_us,
             CAST(CASE WHEN least(3 * 3600000000,
                               h.tokens + 6 * (b.ts_us - h.ts_us))
                            >= 3600000000
                       THEN least(3 * 3600000000,
                                  h.tokens + 6 * (b.ts_us - h.ts_us))
                            - 3600000000
                       ELSE least(3 * 3600000000,
                                  h.tokens + 6 * (b.ts_us - h.ts_us))
                  END AS BIGINT) AS tokens,
             least(3 * 3600000000, h.tokens + 6 * (b.ts_us - h.ts_us))
               >= 3600000000 AS admitted
      FROM base b JOIN tb h ON b.user_id = h.user_id AND b.rn = h.rn + 1
    )
    SELECT event_id, user_id, rn, admitted, tokens FROM tb
    """,
)
def ts_stream_rate_limit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING token-bucket rate limiter, contract-visible
    (streaming.stateful.streaming_token_bucket): per-user (tokens,
    last-seen, count) state across micro-batches via
    applyInPandasWithState. Emission is purely data-driven, so this
    entry shares ts_rate_limit_tokens' recursive-CTE oracle VERBATIM —
    one SQL recurrence certifying that the batch mapInPandas carry and
    the streaming state fold implement identical semantics (the
    strongest batch/stream parity statement the harness can make)."""
    from ..streaming.events import read_event_stream
    from ..streaming.stateful import streaming_token_bucket

    sink = "ts_stream_rate_limit_sink"
    stream = read_event_stream(spark, sf_dir)
    out = streaming_token_bucket(stream, rate_per_hour=6, capacity=3)
    run_stream(out, sink)
    return take_sink(spark, sink)


@query(
    "rel_salted_agg",
    oracle="""
    SELECT l_suppkey,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS BIGINT) AS total,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem
    GROUP BY 1
    """,
)
def rel_salted_agg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase salted aggregation (operators.agg.salted_grouped_sum):
    supplier revenue summed first on (key, salt-of-orderkey), then merged
    on the key — the skewed-group-by treatment. The oracle is the PLAIN
    one-phase GROUP BY: integer-cent sums are associative, so hash
    equality certifies the rewrite is semantically transparent, which is
    the whole point of a salting layer."""
    from ..operators.agg import salted_grouped_sum

    li = load_table(spark, sf_dir, "lineitem").withColumn(
        "rev_cents",
        F.round(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100)
        .cast("long"),
    )
    return salted_grouped_sum(
        li, "l_suppkey", "rev_cents", "l_orderkey", n_salts=8
    ).withColumnRenamed("key", "l_suppkey")


@query(
    "ts_interval_union_time",
    oracle="""
    WITH base AS (
      SELECT user_id AS k,
             epoch_us(ts) // 1000000 AS s,
             epoch_us(ts) // 1000000 + 1800 AS e
      FROM events
    ),
    m AS (
      SELECT k, s, e,
             CASE WHEN max(e) OVER (PARTITION BY k ORDER BY s, e
                                    ROWS BETWEEN UNBOUNDED PRECEDING
                                             AND 1 PRECEDING) IS NULL
                       OR s > max(e) OVER (PARTITION BY k ORDER BY s, e
                                           ROWS BETWEEN UNBOUNDED PRECEDING
                                                    AND 1 PRECEDING)
                  THEN 1 ELSE 0 END AS nw
      FROM base
    ),
    isl AS (
      SELECT k, s, e,
             sum(nw) OVER (PARTITION BY k ORDER BY s, e
                           ROWS UNBOUNDED PRECEDING) AS g
      FROM m
    ),
    pi AS (SELECT k, g, min(s) AS a, max(e) AS b FROM isl GROUP BY 1, 2)
    SELECT k AS user_id, CAST(count(*) AS BIGINT) AS n_islands,
           CAST(sum(b - a) AS BIGINT) AS covered_secs
    FROM pi GROUP BY 1
    """,
)
def ts_interval_union_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user union of 30-minute activity intervals
    (operators.timeseries.interval_union_time): overlap-merged covered
    time via the running-max-of-ends window — the continuous-time
    complement of ts_gaps_islands' day grain. Integer epoch seconds;
    duplicate rows collapse into the same island whichever way the
    window breaks their tie."""
    from ..operators.timeseries import interval_union_time

    ev = load_table(spark, sf_dir, "events")
    return interval_union_time(ev, "user_id", "ts", duration_secs=1800)


@query(
    "ts_backtest_snaive",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t,
             epoch_us(date_trunc('hour', ts)) // 1000000 AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    anchor AS (
      SELECT epoch_us(date_trunc('day', min(ts))) // 1000000 AS t0
      FROM events
    ),
    types AS (SELECT DISTINCT t AS ty FROM hourly),
    cutoffs AS (SELECT unnest([20, 23, 26]) AS cd),
    spine AS (
      SELECT c.cd, ty, t0 + c.cd * 86400 + 3600 * s.i AS hh
      FROM cutoffs c
      CROSS JOIN types
      CROSS JOIN anchor,
           unnest(generate_series(0, 23)) AS s(i)
    ),
    j AS (
      SELECT sp.cd, sp.ty,
             coalesce(a.n, 0) AS n, coalesce(l.n, 0) AS nl
      FROM spine sp
      LEFT JOIN hourly a ON a.t = sp.ty AND a.h = sp.hh
      LEFT JOIN hourly l ON l.t = sp.ty AND l.h + 604800 = sp.hh
    )
    SELECT CAST(cd AS INTEGER) AS cutoff_day, ty AS event_type,
           CAST(count(*) AS BIGINT) AS n_hours,
           round(avg(abs(n - nl)), 4) AS mae
    FROM j GROUP BY 1, 2
    """,
)
def ts_backtest_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the weekly seasonal-naive hourly
    forecaster (operators.timeseries.backtest_seasonal_naive): MAE over
    the FULL type × 24h spine at three cutoffs — zero-actual hours pay
    |0 − forecast| and missing lags forecast 0 (explicit cold-start
    conventions). The evaluation harness the forecasting family's
    baseline answers to."""
    from ..operators.timeseries import backtest_seasonal_naive

    ev = load_table(spark, sf_dir, "events")
    return backtest_seasonal_naive(ev, "ts", "event_type")


@query(
    "rel_share_of_parent",
    oracle="""
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, nation, CAST(cents AS BIGINT) AS revenue_cents,
           round(cents * 100.0 / sum(cents) OVER (PARTITION BY region), 4)
             AS pct_of_region,
           round(cents * 100.0 / sum(cents) OVER (), 4) AS pct_of_total
    FROM rev
    """,
)
def rel_share_of_parent_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical share-of-parent: nation revenue as a percent of its
    region AND of the grand total — the drill-down readout cube/rollup
    don't directly give (their subtotals are rows, not ratios). One
    aggregate to the nation grain (integer cents), then two frameless
    windows on the 25-row table; dimension joins broadcast."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    n = load_table(spark, sf_dir, "nation")
    r = load_table(spark, sf_dir, "region")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"), F.col("n_name").alias("nation")
        )
        .agg(F.sum(cents).alias("revenue_cents"))
    )
    w_r = Window.partitionBy("region")
    w_all = Window.partitionBy()
    return rev.select(
        "region",
        "nation",
        "revenue_cents",
        F.round(
            F.col("revenue_cents") * 100.0 / F.sum("revenue_cents").over(w_r), 4
        ).alias("pct_of_region"),
        F.round(
            F.col("revenue_cents") * 100.0 / F.sum("revenue_cents").over(w_all),
            4,
        ).alias("pct_of_total"),
    )


@query(
    "rel_tail_contribution",
    oracle="""
    WITH v AS (
      SELECT event_type,
             CAST(round(value * 100) AS BIGINT) AS c,
             event_id
      FROM events
    ),
    r AS (
      SELECT event_type, c,
             row_number() OVER (ORDER BY c ASC, event_id ASC) AS rn,
             count(*) OVER () AS n
      FROM v
    ),
    thr AS (
      SELECT c AS p99 FROM r
      WHERE rn = CAST(ceil(0.99 * n) AS BIGINT)
    )
    SELECT v.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN v.c >= t.p99 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tail,
           round(sum(CASE WHEN v.c >= t.p99 THEN 1 ELSE 0 END) * 1.0
                 / count(*), 6) AS tail_rate,
           round(sum(CASE WHEN v.c >= t.p99 THEN v.c ELSE 0 END) * 1.0
                 / sum(v.c), 6) AS tail_mass_share
    FROM v CROSS JOIN thr t
    GROUP BY 1
    """,
)
def rel_tail_contribution_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tail attribution: which event types drive the global p99 of value
    — per type, the share of its events above the corpus-wide p99 cut
    (an ORDER STATISTIC: rank ceil(0.99·n), not approx-percentile) and
    the share of its own value mass sitting in the tail. The latency/
    spend investigation readout: a type with 1% volume but 10% tail rate
    is the one to page on. One global sort for the threshold (broadcast
    scalar), one combinable per-type aggregate."""
    ev = load_table(spark, sf_dir, "events")
    v = ev.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("c"),
        "event_id",
    )
    # p99 order statistic via the distributed global row number (r8):
    # the former unpartitioned row_number funneled the value column
    # through one partition; numbers are bit-identical.
    from ..operators.window import distributed_row_number

    rn = distributed_row_number(
        v, [F.col("c").asc(), F.col("event_id").asc()], out_col="rn"
    )
    tot = rn.agg(F.max("rn").alias("n"))
    thr = (
        rn.join(F.broadcast(tot))
        .filter(F.col("rn") == F.ceil(0.99 * F.col("n")).cast("long"))
        .select(F.col("c").alias("p99"))
    )
    return (
        v.crossJoin(F.broadcast(thr))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum((F.col("c") >= F.col("p99")).cast("long")).alias("n_tail"),
            F.round(
                F.sum((F.col("c") >= F.col("p99")).cast("long")) * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("tail_rate"),
            F.round(
                F.sum(
                    F.when(F.col("c") >= F.col("p99"), F.col("c")).otherwise(0)
                )
                * 1.0
                / F.sum("c"),
                6,
            ).alias("tail_mass_share"),
        )
    )


@query(
    "rel_graph_period_diff",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l.l_orderkey, l.l_partkey,
             CAST(o.o_orderdate >= DATE '1998-06-01' AS INTEGER) AS p
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    e AS (
      SELECT a.l_partkey AS u, b.l_partkey AS v, a.p
      FROM items a
      JOIN items b ON a.l_orderkey = b.l_orderkey
                  AND a.l_partkey < b.l_partkey AND a.p = b.p
      GROUP BY 1, 2, 3
      HAVING count(*) >= 2
    ),
    agg AS (
      SELECT coalesce(e0.u, e1.u) AS u, coalesce(e0.v, e1.v) AS v,
             e0.u IS NOT NULL AS in_old, e1.u IS NOT NULL AS in_new
      FROM (SELECT u, v FROM e WHERE p = 0) e0
      FULL OUTER JOIN (SELECT u, v FROM e WHERE p = 1) e1
        ON e0.u = e1.u AND e0.v = e1.v
    )
    SELECT CAST(sum(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END)
                AS BIGINT) AS n_stable,
           CAST(sum(CASE WHEN in_old AND NOT in_new THEN 1 ELSE 0 END)
                AS BIGINT) AS n_lost,
           CAST(sum(CASE WHEN in_new AND NOT in_old THEN 1 ELSE 0 END)
                AS BIGINT) AS n_gained,
           round(sum(CASE WHEN in_old AND in_new THEN 1 ELSE 0 END) * 1.0
                 / sum(CASE WHEN in_old OR in_new THEN 1 ELSE 0 END), 6)
             AS jaccard_stability
    FROM agg
    """,
)
def rel_graph_diff_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal graph churn: the repeat co-purchase edge sets built from
    orders BEFORE and SINCE 1998-06-01, full-outer-joined into
    stable/lost/gained counts + edge-set Jaccard stability — the drift
    monitor for any relationship graph a recommender retrains on. Edge
    derivation per period shares one basket-bounded self-join (the period
    flag rides the distinct items projection)."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    items = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            "l_partkey",
            (F.col("o_orderdate") >= F.lit("1998-06-01").cast("date"))
            .cast("int")
            .alias("p"),
        )
        .distinct()
        .localCheckpoint(eager=True)  # both self-join sides read this;
        # lazy form re-ran orders⋈lineitem per side (audit: 4+4 scans)
    )
    a = items.select("l_orderkey", F.col("l_partkey").alias("u"), "p")
    b = items.select(
        F.col("l_orderkey").alias("__ok"),
        F.col("l_partkey").alias("v"),
        F.col("p").alias("__p2"),
    )
    e = (
        a.join(
            b,
            (a.l_orderkey == b.__ok)
            & (F.col("u") < F.col("v"))
            & (F.col("p") == F.col("__p2")),
        )
        .groupBy("u", "v", "p")
        .agg(F.count("*").alias("w"))
        .filter(F.col("w") >= 2)
        .select("u", "v", "p")
    )
    e0 = e.filter(F.col("p") == 0).select("u", "v").withColumn("in_old", F.lit(True))
    e1 = e.filter(F.col("p") == 1).select(
        F.col("u").alias("u1"), F.col("v").alias("v1")
    ).withColumn("in_new", F.lit(True))
    agg = e0.join(
        e1, (F.col("u") == F.col("u1")) & (F.col("v") == F.col("v1")), "full_outer"
    ).select(
        F.coalesce(F.col("in_old"), F.lit(False)).alias("in_old"),
        F.coalesce(F.col("in_new"), F.lit(False)).alias("in_new"),
    )
    both = (F.col("in_old") & F.col("in_new")).cast("long")
    either = (F.col("in_old") | F.col("in_new")).cast("long")
    return agg.agg(
        F.sum(both).alias("n_stable"),
        F.sum((F.col("in_old") & ~F.col("in_new")).cast("long")).alias("n_lost"),
        F.sum((F.col("in_new") & ~F.col("in_old")).cast("long")).alias("n_gained"),
        F.round(F.sum(both) * 1.0 / F.sum(either), 6).alias("jaccard_stability"),
    )


@query(
    "ts_local_peaks",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t,
             epoch_us(date_trunc('hour', ts)) // 1000000 AS h,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    w AS (
      SELECT t, h, n,
             lag(n) OVER (PARTITION BY t ORDER BY h) AS prev_n,
             lead(n) OVER (PARTITION BY t ORDER BY h) AS next_n,
             lag(h) OVER (PARTITION BY t ORDER BY h) AS prev_h,
             lead(h) OVER (PARTITION BY t ORDER BY h) AS next_h
      FROM hourly
    )
    SELECT t AS event_type, CAST(h AS BIGINT) AS hour_epoch,
           CAST(n AS BIGINT) AS n
    FROM w
    WHERE prev_n IS NOT NULL AND next_n IS NOT NULL
      AND prev_h = h - 3600 AND next_h = h + 3600
      AND n > prev_n AND n > next_n AND n >= 10
    """,
)
def ts_local_peaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local peak detection on hourly event counts: hours strictly above
    BOTH calendar-adjacent neighbours (gap-aware — a missing neighbour
    hour disqualifies, lag/lead alone would compare across the gap) with
    a min-height floor. The alert-candidate primitive under the anomaly
    family; one bucket aggregate + one ordered window per type."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", F.col("ts")).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("t").orderBy("h")
    x = hourly.select(
        "t",
        "h",
        "n",
        F.lag("n").over(w).alias("prev_n"),
        F.lead("n").over(w).alias("next_n"),
        F.lag("h").over(w).alias("prev_h"),
        F.lead("h").over(w).alias("next_h"),
    )
    return x.filter(
        F.col("prev_n").isNotNull()
        & F.col("next_n").isNotNull()
        & (F.col("prev_h") == F.col("h") - 3600)
        & (F.col("next_h") == F.col("h") + 3600)
        & (F.col("n") > F.col("prev_n"))
        & (F.col("n") > F.col("next_n"))
        & (F.col("n") >= 10)
    ).select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour_epoch"),
        F.col("n"),
    )


@query(
    "ts_hourly_percentile_bands",
    oracle="""
    WITH c AS (
      SELECT event_type AS t, EXTRACT(hour FROM ts) AS hod,
             CAST(round(value * 100) AS BIGINT) AS c, event_id
      FROM events
    ),
    r AS (
      SELECT t, hod, c,
             row_number() OVER (PARTITION BY t, hod
                                ORDER BY c ASC, event_id ASC) AS rn,
             count(*) OVER (PARTITION BY t, hod) AS n
      FROM c
    )
    SELECT t AS event_type, CAST(hod AS BIGINT) AS hod,
           CAST(max(n) AS BIGINT) AS n,
           round(max(CASE WHEN rn = greatest(
                   CAST(ceil(0.10 * n) AS BIGINT), 1) THEN c END) / 100.0, 2)
             AS p10,
           round(max(CASE WHEN rn = greatest(
                   CAST(ceil(0.50 * n) AS BIGINT), 1) THEN c END) / 100.0, 2)
             AS p50,
           round(max(CASE WHEN rn = greatest(
                   CAST(ceil(0.90 * n) AS BIGINT), 1) THEN c END) / 100.0, 2)
             AS p90
    FROM r GROUP BY 1, 2
    """,
)
def ts_percentile_bands_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day percentile envelope per event type: p10/p50/p90 of
    value by (type, hour-of-day) as EXACT order statistics
    (ceil(q·n)-th rank, event_id tie-break — the discrete-percentile
    discipline, no interpolation ambiguity across engines). The
    expected-band chart behind 'is tonight's spend normal for 9pm';
    anomaly gates compare against these bands. One sort per (type, hod)
    partition; output is 24×|types| rows."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.select(
        F.col("event_type").alias("t"),
        F.hour("ts").cast("long").alias("hod"),
        F.round(F.col("value") * 100).cast("long").alias("c"),
        "event_id",
    )
    w = Window.partitionBy("t", "hod").orderBy(
        F.col("c").asc(), F.col("event_id").asc()
    )
    wn = Window.partitionBy("t", "hod")
    r = c.select(
        "t",
        "hod",
        "c",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q):
        k = F.greatest(F.ceil(F.lit(q) * F.col("n")).cast("long"), F.lit(1))
        return F.round(
            F.max(F.when(F.col("rn") == k, F.col("c"))) / 100.0, 2
        )

    return r.groupBy(
        F.col("t").alias("event_type"), F.col("hod")
    ).agg(
        F.max("n").alias("n"),
        pick(0.10).alias("p10"),
        pick(0.50).alias("p50"),
        pick(0.90).alias("p90"),
    )


@query(
    "ts_semi_additive_monthly",
    oracle="""
    WITH bal AS (
      SELECT user_id, ts, event_id,
             sum(CAST(round(value * 100) AS BIGINT))
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS running_cents
      FROM events
    ),
    mo AS (
      SELECT user_id,
             CAST(date_trunc('month', ts) AS DATE) AS month,
             running_cents,
             row_number() OVER (PARTITION BY user_id,
                                             date_trunc('month', ts)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM bal
    )
    SELECT month,
           CAST(count(*) AS BIGINT) AS n_users,
           CAST(sum(running_cents) AS BIGINT) AS total_balance_cents
    FROM mo WHERE rn = 1
    GROUP BY 1
    """,
)
def ts_semi_additive_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-additive measure aggregation — the BI balance semantics:
    cumulative per-user spend is summable ACROSS users but takes the
    LAST value across time, so each month reports Σ_users
    (user's closing running total). One user-key window pass builds the
    running totals (integer cents), a per-(user, month) last-row pick,
    then a month-grain sum — the pattern plain GROUP BY can't express
    and naive SUM over months double-counts."""
    ev = load_table(spark, sf_dir, "events")
    wb = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bal = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .over(wb)
        .alias("running_cents"),
    )
    wm = Window.partitionBy(
        "user_id", F.date_trunc("month", F.col("ts"))
    ).orderBy(F.col("ts").desc(), F.col("event_id").desc())
    mo = bal.select(
        F.date_trunc("month", F.col("ts")).cast("date").alias("month"),
        "running_cents",
        F.row_number().over(wm).alias("rn"),
    )
    return (
        mo.filter(F.col("rn") == 1)
        .groupBy("month")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("running_cents").alias("total_balance_cents"),
        )
    )


@query(
    "ts_growth_accounting",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firsts AS (SELECT user_id, min(wk) AS first_wk FROM uw GROUP BY 1),
    lagged AS (
      SELECT u.user_id, u.wk, f.first_wk,
             lag(u.wk) OVER (PARTITION BY u.user_id ORDER BY u.wk) AS prev_wk
      FROM uw u JOIN firsts f USING (user_id)
    ),
    states AS (
      SELECT wk,
             CASE WHEN wk = first_wk THEN 'new'
                  WHEN prev_wk = wk - INTERVAL 7 DAY THEN 'retained'
                  ELSE 'resurrected' END AS state
      FROM lagged
    ),
    churn AS (
      SELECT CAST(wk + INTERVAL 7 DAY AS DATE) AS wk, 'churned' AS state
      FROM lagged l
      WHERE NOT EXISTS (
        SELECT 1 FROM uw n
        WHERE n.user_id = l.user_id AND n.wk = l.wk + INTERVAL 7 DAY
      )
      AND l.wk + INTERVAL 7 DAY <= (SELECT max(wk) FROM uw)
    ),
    allrows AS (
      SELECT wk, state FROM states UNION ALL SELECT wk, state FROM churn
    )
    SELECT wk AS week, state, CAST(count(*) AS BIGINT) AS n_users
    FROM allrows GROUP BY 1, 2
    """,
)
def ts_growth_accounting_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly growth accounting (the new/retained/resurrected/churned
    ledger every growth team reads): states derive from each user's
    distinct-week activity via one lag window — new (first week),
    retained (active previous week), resurrected (returning after a
    gap), churned (active week w, silent week w+1 — attributed to w+1,
    capped at the observed horizon). The fact table collapses to
    (user, week) first, so every window rides distinct-activity
    cardinality.

    Output: (week, state, n_users)."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct().localCheckpoint(eager=True)  # activity hub: firsts,
    # lag window, anti-join side, and horizon max all read this (audit: 6
    # events scans; 1 after)
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("first_wk"))
    w = Window.partitionBy("user_id").orderBy("wk")
    lagged = uw.join(firsts, "user_id").select(
        "user_id", "wk", "first_wk", F.lag("wk").over(w).alias("prev_wk")
    )
    states = lagged.select(
        "wk",
        F.when(F.col("wk") == F.col("first_wk"), "new")
        .when(F.col("prev_wk") == F.date_sub(F.col("wk"), 7), "retained")
        .otherwise("resurrected")
        .alias("state"),
    )
    max_wk = uw.agg(F.max("wk").alias("mx"))
    nxt = uw.select(
        F.col("user_id").alias("u2"), F.col("wk").alias("wk2")
    )
    churn = (
        lagged.join(
            nxt,
            (F.col("user_id") == F.col("u2"))
            & (F.col("wk2") == F.date_add(F.col("wk"), 7)),
            "left_anti",
        )
        .crossJoin(F.broadcast(max_wk))
        .filter(F.date_add(F.col("wk"), 7) <= F.col("mx"))
        .select(
            F.date_add(F.col("wk"), 7).alias("wk"), F.lit("churned").alias("state")
        )
    )
    return (
        states.unionByName(churn)
        .groupBy(F.col("wk").alias("week"), "state")
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@query(
    "ext_dupgraph_transitivity",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), sh AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS shingle
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ), sizes AS (
      SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id
    ), inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ), e AS (
      SELECT id_a AS a, id_b AS b FROM inter
      JOIN sizes na ON na.doc_id = id_a
      JOIN sizes nb ON nb.doc_id = id_b
      WHERE inter * 1.0 / (na.n_sh + nb.n_sh - inter) >= 0.2
    ),
    tri AS (
      SELECT count(*) AS nt
      FROM e x JOIN e y ON y.a = x.b JOIN e z ON z.a = x.a AND z.b = y.b
    ),
    sym AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
    deg AS (SELECT a, count(*) AS d FROM sym GROUP BY 1),
    wdg AS (SELECT sum(d * (d - 1) / 2) AS nw FROM deg),
    ne AS (SELECT count(*) AS n_edges FROM e)
    SELECT CAST(ne.n_edges AS BIGINT) AS n_edges,
           CAST(tri.nt AS BIGINT) AS n_triangles,
           round(CASE WHEN wdg.nw > 0
                      THEN 3.0 * tri.nt / wdg.nw ELSE 0.0 END, 6)
             AS transitivity
    FROM ne CROSS JOIN tri CROSS JOIN wdg
    """,
)
def ext_dupgraph_trans_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup graph transitivity: the clustering coefficient of the
    Jaccard≥0.2 similarity graph — a threshold producing a near-
    transitive graph (coefficient → 1) validates single-linkage
    clustering (near_dup_clusters); a low coefficient warns that
    connected components will chain unrelated documents. Composes the
    jaccard pair machinery with operators.graph.triangle_stats — the
    graph ops working on DERIVED similarity edges, not just the
    co-purchase fixture."""
    from ..operators.graph import triangle_stats

    docs = load_table(spark, sf_dir, "documents")
    sh = X.word_shingles(docs, "doc_id", "text", n=3, hashed=True)
    pairs = X.jaccard_pairs(sh, "doc_id", threshold=0.2)
    return triangle_stats(pairs, "id_a", "id_b").select(
        "n_edges",
        "n_triangles",
        F.col("clustering").alias("transitivity"),
    )


@query(
    "rel_fulfillment_latency",
    oracle="""
    WITH lat AS (
      SELECT o.o_orderpriority AS pr,
             date_diff('day', o.o_orderdate, l.l_shipdate) AS d,
             l.l_orderkey, l.l_linenumber, l.l_partkey
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT pr, d,
             row_number() OVER (PARTITION BY pr
                                ORDER BY d ASC, l_orderkey ASC,
                                         l_linenumber ASC, l_partkey ASC)
               AS rn,
             count(*) OVER (PARTITION BY pr) AS n
      FROM lat
    )
    SELECT pr AS o_orderpriority, CAST(max(n) AS BIGINT) AS n_lines,
           CAST(max(CASE WHEN rn = greatest(
                  CAST(ceil(0.50 * n) AS BIGINT), 1) THEN d END)
                AS BIGINT) AS p50_days,
           CAST(max(CASE WHEN rn = greatest(
                  CAST(ceil(0.90 * n) AS BIGINT), 1) THEN d END)
                AS BIGINT) AS p90_days,
           CAST(max(CASE WHEN rn = greatest(
                  CAST(ceil(0.99 * n) AS BIGINT), 1) THEN d END)
                AS BIGINT) AS p99_days
    FROM r GROUP BY pr
    """,
)
def rel_fulfillment_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-to-ship latency percentiles per priority (p50/p90/p99 of
    shipdate − orderdate in days) — the operational SLA readout, computed
    as EXACT order statistics (ceil(q·n) rank with a composite line-key
    tie-break; the discrete-percentile discipline, no interpolation).
    One fact join broadcast on nothing (orders co-keyed), one sort per
    priority partition."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    lat = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pr"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        ).cast("long").alias("d"),
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
    )
    w = Window.partitionBy("pr").orderBy(
        F.col("d").asc(),
        F.col("l_orderkey").asc(),
        F.col("l_linenumber").asc(),
        F.col("l_partkey").asc(),
    )
    wn = Window.partitionBy("pr")
    r = lat.select(
        "pr",
        "d",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(q):
        k = F.greatest(F.ceil(F.lit(q) * F.col("n")).cast("long"), F.lit(1))
        return F.max(F.when(F.col("rn") == k, F.col("d")))

    return r.groupBy(F.col("pr").alias("o_orderpriority")).agg(
        F.max("n").alias("n_lines"),
        pick(0.50).alias("p50_days"),
        pick(0.90).alias("p90_days"),
        pick(0.99).alias("p99_days"),
    )


@query(
    "ext_doc_novelty",
    oracle="""
    WITH t AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w FROM documents
    ), g AS (
      SELECT DISTINCT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS gram
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM t WHERE len(w) >= 3)
    ),
    firsts AS (SELECT gram, min(doc_id) AS first_doc FROM g GROUP BY 1)
    SELECT g.doc_id,
           CAST(count(*) AS BIGINT) AS n_grams,
           CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                AS BIGINT) AS n_novel,
           round(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
                 * 1.0 / count(*), 4) AS novelty
    FROM g JOIN firsts f USING (gram)
    GROUP BY g.doc_id
    """,
)
def ext_doc_novelty_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty under ingestion order: the fraction of a
    doc's distinct 3-grams whose FIRST corpus appearance is this doc —
    the doc-grain companion to ext_vocab_saturation's batch curve (a
    low-novelty late document is a near-dup or boilerplate candidate
    BEFORE any pairwise comparison runs). First-occurrence is min(doc_id)
    per gram: O(total grams), one shuffle on the hashed gram, no
    pairwise stage. The string-keyed oracle certifies the hashed-gram
    engine path."""
    docs = load_table(spark, sf_dir, "documents")
    g = X.word_shingles(docs, "doc_id", "text", n=3, hashed=True)
    firsts = g.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    return (
        g.join(firsts, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum(
                (F.col("first_doc") == F.col("doc_id")).cast("long")
            ).alias("n_novel"),
            F.round(
                F.sum((F.col("first_doc") == F.col("doc_id")).cast("long"))
                * 1.0
                / F.count(F.lit(1)),
                4,
            ).alias("novelty"),
        )
    )


@query(
    "ts_retention_halflife",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS DATE) AS wk
      FROM events
    ),
    firsts AS (SELECT user_id, min(wk) AS cohort FROM uw GROUP BY 1),
    sizes AS (SELECT cohort, count(*) AS n0 FROM firsts GROUP BY 1),
    act AS (
      SELECT f.cohort,
             date_diff('week', f.cohort, u.wk) AS age,
             count(DISTINCT u.user_id) AS n_active
      FROM uw u JOIN firsts f USING (user_id)
      GROUP BY 1, 2
    ),
    pts AS (
      SELECT a.cohort, CAST(a.age AS DOUBLE) AS x,
             ln(a.n_active * 1.0 / s.n0) AS y
      FROM act a JOIN sizes s USING (cohort)
      WHERE a.age >= 1 AND a.n_active > 0
    ),
    m AS (
      SELECT cohort, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM pts GROUP BY 1
    )
    SELECT cohort, CAST(n AS BIGINT) AS n_points,
           round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
           round(CASE WHEN (n * sxy - sx * sy) < 0
                      THEN -0.6931471805599453
                           / ((n * sxy - sx * sy) / (n * sxx - sx * sx))
                      ELSE NULL END, 4) AS halflife_weeks
    FROM m WHERE n >= 2 AND (n * sxx - sx * sx) <> 0
    """,
)
def ts_retention_halflife_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention half-life per weekly cohort: fit ln(retention) ~ age by
    closed-form OLS over the cohort's weekly retention points (age ≥ 1),
    half-life = −ln2/slope when decaying — the one-number summary product
    teams quote from a retention matrix. ln of exact integer ratios;
    ln(2) embedded as the same double literal in both engines; cohorts
    without a well-defined fit drop out explicitly."""
    ev = load_table(spark, sf_dir, "events")
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).cast("date").alias("wk")
    ).distinct().localCheckpoint(eager=True)  # hub: cohorts, sizes, act
    firsts = uw.groupBy("user_id").agg(F.min("wk").alias("cohort"))
    sizes = firsts.groupBy("cohort").agg(F.count(F.lit(1)).alias("n0"))
    act = (
        uw.join(firsts, "user_id")
        .groupBy(
            "cohort",
            (F.datediff(F.col("wk"), F.col("cohort")) / 7)
            .cast("long")
            .alias("age"),
        )
        .agg(F.countDistinct("user_id").alias("n_active"))
    )
    pts = (
        act.join(sizes, "cohort")
        .filter((F.col("age") >= 1) & (F.col("n_active") > 0))
        .select(
            "cohort",
            F.col("age").cast("double").alias("x"),
            F.log(F.col("n_active") * 1.0 / F.col("n0")).alias("y"),
        )
    )
    m = pts.groupBy("cohort").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num / den
    return (
        m.filter((F.col("n") >= 2) & (den != 0))
        .select(
            "cohort",
            F.col("n").alias("n_points"),
            F.round(slope, 6).alias("slope"),
            F.round(
                F.when(num < 0, -F.lit(0.6931471805599453) / slope).otherwise(
                    F.lit(None)
                ),
                4,
            ).alias("halflife_weeks"),
        )
    )


@query(
    "rel_rank_movers",
    oracle="""
    WITH rev AS (
      SELECT l.l_partkey AS part,
             CAST(o.o_orderdate >= DATE '1998-06-01' AS INTEGER) AS p,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      GROUP BY 1, 2
    ),
    r AS (
      SELECT part, p, cents,
             row_number() OVER (PARTITION BY p
                                ORDER BY cents DESC, part ASC) AS rnk
      FROM rev
    )
    SELECT CAST(row_number() OVER (
             ORDER BY abs(a.rnk - b.rnk) DESC, a.part ASC)
             AS INTEGER) AS rank,
           a.part AS l_partkey,
           CAST(a.rnk AS BIGINT) AS rank_old,
           CAST(b.rnk AS BIGINT) AS rank_new,
           CAST(b.rnk - a.rnk AS BIGINT) AS delta
    FROM (SELECT * FROM r WHERE p = 0) a
    JOIN (SELECT * FROM r WHERE p = 1) b USING (part)
    QUALIFY rank <= 20
    """,
)
def rel_rank_movers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top rank movers: parts whose revenue RANK shifted most between the
    pre- and post-1998-06 periods (both periods ranked in one window pass
    over the per-(part, period) revenue table; movers = inner join on
    parts present in both). The leaderboard-churn readout behind
    'what changed this quarter' — rank deltas, not raw deltas, so a
    mid-tail part moving 500 places outranks a #1 staying #1."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rev = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .groupBy(
            F.col("l_partkey").alias("part"),
            (F.col("o_orderdate") >= F.lit("1998-06-01").cast("date"))
            .cast("int")
            .alias("p"),
        )
        .agg(
            F.sum(
                F.round(
                    F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
                ).cast("long")
            ).alias("cents")
        )
    )
    w = Window.partitionBy("p").orderBy(
        F.col("cents").desc(), F.col("part").asc()
    )
    r = rev.select(
        "part", "p", F.row_number().over(w).alias("rnk")
    ).localCheckpoint(eager=True)  # both period branches read the ranks
    a = r.filter(F.col("p") == 0).select("part", F.col("rnk").alias("rank_old"))
    b = r.filter(F.col("p") == 1).select(
        F.col("part").alias("p2"), F.col("rnk").alias("rank_new")
    )
    j = a.join(b, F.col("part") == F.col("p2")).select(
        "part", "rank_old", "rank_new"
    )
    wtop = Window.orderBy(
        F.abs(F.col("rank_old") - F.col("rank_new")).desc(),
        F.col("part").asc(),
    )
    return (
        j.withColumn("rank", F.row_number().over(wtop))
        .filter(F.col("rank") <= 20)
        .select(
            "rank",
            F.col("part").alias("l_partkey"),
            "rank_old",
            "rank_new",
            (F.col("rank_new") - F.col("rank_old")).alias("delta"),
        )
    )


@query(
    "ml_loco_importance",
    oracle="""
    WITH u AS (
      SELECT l_quantity AS x1,
             CAST(CAST(round(l_discount * 100) AS BIGINT) AS DOUBLE) AS x2,
             CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
               AS y,
             (CAST('0x' || substr(md5('loco:' ||
                CAST(l_orderkey AS VARCHAR) || ':' ||
                CAST(l_linenumber AS VARCHAR) || ':' ||
                CAST(l_partkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS hu
      FROM lineitem
    ),
    tm AS (
      SELECT count(*) AS n, sum(x1) AS s1, sum(x2) AS s2, sum(y) AS sy,
             sum(x1 * x1) AS s11, sum(x2 * x2) AS s22,
             sum(x1 * x2) AS s12, sum(x1 * y) AS s1y, sum(x2 * y) AS s2y
      FROM u WHERE hu >= 0.2
    ),
    hm AS (
      SELECT count(*) AS nh, sum(x1) AS h1, sum(x2) AS h2, sum(y) AS hy,
             sum(x1 * x1) AS h11, sum(x2 * x2) AS h22,
             sum(x1 * x2) AS h12, sum(x1 * y) AS h1y, sum(x2 * y) AS h2y,
             sum(y * y) AS hyy
      FROM u WHERE hu < 0.2
    ),
    c AS (
      SELECT *,
             s11 - s1 * s1 / n AS c11, s22 - s2 * s2 / n AS c22,
             s12 - s1 * s2 / n AS c12, s1y - s1 * sy / n AS c1y,
             s2y - s2 * sy / n AS c2y
      FROM tm CROSS JOIN hm
    ),
    f AS (SELECT *, c11 * c22 - c12 * c12 AS det FROM c),
    fits AS (
      SELECT *,
             (c1y * c22 - c2y * c12) / det AS b1f,
             (c2y * c11 - c1y * c12) / det AS b2f,
             c1y / c11 AS b1d2,
             c2y / c22 AS b2d1
      FROM f
    ),
    fits2 AS (
      SELECT *,
             (sy - b1f * s1 - b2f * s2) / n AS af,
             (sy - b1d2 * s1) / n AS ad2,
             (sy - b2d1 * s2) / n AS ad1
      FROM fits
    ),
    r AS (
      SELECT *,
             hyy - hy * hy / nh AS sst,
             hyy + nh * af * af + b1f * b1f * h11 + b2f * b2f * h22
               + 2.0 * af * b1f * h1 + 2.0 * af * b2f * h2
               + 2.0 * b1f * b2f * h12 - 2.0 * af * hy
               - 2.0 * b1f * h1y - 2.0 * b2f * h2y AS ssef,
             hyy + nh * ad2 * ad2 + b1d2 * b1d2 * h11 + 0.0 * 0.0 * h22
               + 2.0 * ad2 * b1d2 * h1 + 2.0 * ad2 * 0.0 * h2
               + 2.0 * b1d2 * 0.0 * h12 - 2.0 * ad2 * hy
               - 2.0 * b1d2 * h1y - 2.0 * 0.0 * h2y AS ssed2,
             hyy + nh * ad1 * ad1 + 0.0 * 0.0 * h11 + b2d1 * b2d1 * h22
               + 2.0 * ad1 * 0.0 * h1 + 2.0 * ad1 * b2d1 * h2
               + 2.0 * 0.0 * b2d1 * h12 - 2.0 * ad1 * hy
               - 2.0 * 0.0 * h1y - 2.0 * b2d1 * h2y AS ssed1
      FROM fits2
    ),
    rr AS (
      SELECT 1.0 - ssef / sst AS r2f,
             1.0 - ssed1 / sst AS r2d1,
             1.0 - ssed2 / sst AS r2d2
      FROM r
    )
    SELECT 'full' AS model, round(r2f, 6) AS r2,
           CAST(0.0 AS DOUBLE) AS importance FROM rr
    UNION ALL
    SELECT 'drop_x1', round(r2d1, 6), round(r2f - r2d1, 6) + 0.0 FROM rr
    UNION ALL
    SELECT 'drop_x2', round(r2d2, 6), round(r2f - r2d2, 6) + 0.0 FROM rr
    """,
)
def ml_loco_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-covariate-out importance for price ~ quantity + discount
    (ml.eval.loco_importance): exact closed-form refits via centered
    normal equations — no permutation pairing, no iterative training;
    two moment aggregates and pure arithmetic. Quantity, discount points,
    and price cents are integer-valued doubles, so every moment sums
    exactly and both engines run the identical floating-point path."""
    from ..ml.eval import loco_importance

    li = load_table(spark, sf_dir, "lineitem")
    h = F.substring(
        F.md5(
            F.concat_ws(
                ":",
                F.lit("loco"),
                F.col("l_orderkey").cast("string"),
                F.col("l_linenumber").cast("string"),
                F.col("l_partkey").cast("string"),
            )
        ),
        1,
        8,
    )
    base = li.select(
        F.col("l_quantity").alias("x1"),
        F.round(F.col("l_discount") * 100).cast("long").cast("double").alias("x2"),
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("double").alias("y"),
        (
            (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0) < 0.2
        ).alias("holdout"),
    )
    return loco_importance(base, "holdout", "x1", "x2", "y")


@query(
    "ml_pr_auc",
    oracle=f"""
    WITH {_SCORED_CTE},
    ps AS (
      SELECT o_orderpriority AS g, score,
             sum(label) AS p, count(*) AS n
      FROM scored GROUP BY 1, 2
    ),
    cum0 AS (
      SELECT g, score,
             sum(p) OVER (PARTITION BY g ORDER BY score DESC
                          ROWS UNBOUNDED PRECEDING) AS tp,
             sum(n) OVER (PARTITION BY g ORDER BY score DESC
                          ROWS UNBOUNDED PRECEDING) AS pred,
             sum(p) OVER (PARTITION BY g) AS n_pos,
             sum(n - p) OVER (PARTITION BY g) AS n_neg
      FROM ps
    ),
    cum AS (
      SELECT g, tp, pred, n_pos, n_neg,
             lag(tp) OVER (PARTITION BY g ORDER BY score DESC) AS tp_prev
      FROM cum0
    )
    SELECT g AS o_orderpriority,
           CAST(max(n_pos) AS BIGINT) AS n_pos,
           CAST(max(n_neg) AS BIGINT) AS n_neg,
           round(sum(((tp - coalesce(tp_prev, 0)) * 1.0 / n_pos)
                     * (tp * 1.0 / pred)), 6) AS pr_auc
    FROM cum GROUP BY 1
    """,
)
def ml_pr_auc_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision per priority (ml.eval.pr_auc): tie-safe
    step-function PR AUC over distinct descending scores — the
    class-imbalance-honest companion to ml_roc_auc, on the same
    synthetic label-shifted score."""
    return ME.pr_auc(
        _scored_orders(spark, sf_dir), "label", "score", "o_orderpriority"
    )


@query(
    "ml_best_f1_threshold",
    oracle=f"""
    WITH {_SCORED_CTE},
    ps AS (
      SELECT score, sum(label) AS p, count(*) AS n
      FROM scored GROUP BY 1
    ),
    cum AS (
      SELECT score AS threshold,
             sum(p) OVER (ORDER BY score DESC
                          ROWS UNBOUNDED PRECEDING) AS tp,
             sum(n) OVER (ORDER BY score DESC
                          ROWS UNBOUNDED PRECEDING)
               - sum(p) OVER (ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS fp,
             sum(p) OVER ()
               - sum(p) OVER (ORDER BY score DESC
                              ROWS UNBOUNDED PRECEDING) AS fn
      FROM ps
    ),
    pick AS (
      SELECT *,
             row_number() OVER (
               ORDER BY round(2.0 * tp / (2.0 * tp + fp + fn), 6) DESC,
                        threshold DESC) AS r
      FROM cum
    )
    SELECT threshold, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
           CAST(fn AS BIGINT) AS fn,
           round(tp * 1.0 / (tp + fp), 6) AS precision,
           round(tp * 1.0 / (tp + fn), 6) AS recall,
           round(2.0 * tp / (2.0 * tp + fp + fn), 6) AS f1
    FROM pick WHERE r = 1
    """,
)
def ml_best_f1_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Operating-point selection (ml.eval.best_f1_threshold): the
    distinct-score threshold maximizing F1 (ties break to the highest
    threshold — the conservative fewest-flagged pick), with its
    precision/recall. The deployment knob the offline metric family
    feeds; same cumulative machinery as pr_auc."""
    return ME.best_f1_threshold(_scored_orders(spark, sf_dir), "label", "score")


@query(
    "ts_velocity_features",
    oracle="""
    WITH e AS (
      SELECT user_id, event_id, event_type,
             epoch_us(ts) // 1000000 AS s
      FROM events
    ),
    v AS (
      SELECT user_id, event_id, event_type, s,
             count(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
               AS n_1h,
             count(*) OVER (PARTITION BY user_id ORDER BY s
                            RANGE BETWEEN 86400 PRECEDING AND CURRENT ROW)
               AS n_24h
      FROM e
    )
    SELECT user_id, event_id,
           CAST(n_1h AS BIGINT) AS n_1h,
           CAST(n_24h AS BIGINT) AS n_24h
    FROM v WHERE event_type = 'purchase'
    """,
)
def ts_velocity_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window velocity features at each purchase: the user's
    event counts in the prior 1h and 24h INCLUDING the purchase — the
    fraud/abuse feature primitive ('5th transaction this hour?'). RANGE
    frames over epoch seconds, so same-second bursts count fully on both
    engines regardless of intra-second order (a ROWS frame would be
    tie-order-dependent — the reason this uses RANGE). One user-key sort
    serves both widths; the purchase filter prunes output AFTER features
    (each purchase needs its full history)."""
    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts").cast("long").alias("s"),
    )
    w1 = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-3600, 0)
    )
    w24 = (
        Window.partitionBy("user_id")
        .orderBy("s")
        .rangeBetween(-86400, 0)
    )
    v = e.select(
        "user_id",
        "event_id",
        "event_type",
        F.count(F.lit(1)).over(w1).alias("n_1h"),
        F.count(F.lit(1)).over(w24).alias("n_24h"),
    )
    return v.filter(F.col("event_type") == "purchase").select(
        "user_id", "event_id", "n_1h", "n_24h"
    )


@query(
    "ml_ece",
    oracle=f"""
    WITH {_SCORED_CTE},
    b AS (
      SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9) AS INTEGER)
               AS bin,
             count(*) AS n,
             avg(score) AS conf,
             avg(CAST(label AS DOUBLE)) AS acc
      FROM scored GROUP BY 1
    ),
    t AS (SELECT sum(n) AS nt FROM b)
    SELECT CAST(t.nt AS BIGINT) AS n,
           round(sum((b.n * 1.0 / t.nt) * abs(b.acc - b.conf)), 6) AS ece,
           round(max(abs(b.acc - b.conf)), 6) AS mce
    FROM b CROSS JOIN t
    GROUP BY t.nt
    """,
)
def ml_ece_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected + maximum calibration error (the scalar summary of
    ml_calibration_bins' reliability table): ECE = Σ (n_b/N)·|acc_b −
    conf_b| over 10 equal-width bins, MCE = the worst bin — the numbers
    a model card quotes. Bin means divide exact integer sums of rounded
    scores; the bin table is 10 rows."""
    scored = _scored_orders(spark, sf_dir)
    # 10-row bin table consumed by the total AND the weighted sum -
    # checkpoint so the corpus binning shuffle runs once (r8 scan audit).
    b = (
        scored.groupBy(
            F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9))
            .cast("int")
            .alias("bin")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.avg("score").alias("conf"),
            F.avg(F.col("label").cast("double")).alias("acc"),
        )
        .localCheckpoint(eager=True)
    )
    t = b.agg(F.sum("n").alias("nt"))
    return (
        b.crossJoin(F.broadcast(t))
        .groupBy("nt")
        .agg(
            F.round(
                F.sum(
                    (F.col("n") * 1.0 / F.col("nt"))
                    * F.abs(F.col("acc") - F.col("conf"))
                ),
                6,
            ).alias("ece"),
            F.round(F.max(F.abs(F.col("acc") - F.col("conf"))), 6).alias(
                "mce"
            ),
        )
        .select(F.col("nt").alias("n"), "ece", "mce")
    )


@query(
    "ml_kfold_cv",
    oracle="""
    WITH u AS (
      SELECT CAST(year(o_orderdate) AS DOUBLE) AS x,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) AS DOUBLE) AS y,
             CAST(CAST('0x' || substr(md5('fold:' ||
                  CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 5
                  AS INTEGER) AS fold
      FROM orders
    ),
    pf AS (
      SELECT fold, count(*) AS nf, sum(x) AS fx, sum(y) AS fy,
             sum(x * y) AS fxy, sum(x * x) AS fxx, sum(y * y) AS fyy
      FROM u GROUP BY 1
    ),
    tt AS (
      SELECT sum(nf) AS n_t, sum(fx) AS sx_t, sum(fy) AS sy_t,
             sum(fxy) AS sxy_t, sum(fxx) AS sxx_t
      FROM pf
    ),
    fits AS (
      SELECT fold, nf, fx, fy, fxy, fxx, fyy,
             ((n_t - nf) * (sxy_t - fxy) - (sx_t - fx) * (sy_t - fy))
               / ((n_t - nf) * (sxx_t - fxx) - (sx_t - fx) * (sx_t - fx))
               AS b,
             (sx_t - fx) AS sxd, (sy_t - fy) AS syd,
             (n_t - nf) AS nd
      FROM pf CROSS JOIN tt
    ),
    fits2 AS (SELECT *, (syd - b * sxd) / nd AS a FROM fits)
    SELECT fold, CAST(nf AS BIGINT) AS n_test,
           round(1.0 - (fyy + nf * a * a + b * b * fxx
                        - 2.0 * a * fy - 2.0 * b * fxy
                        + 2.0 * a * b * fx)
                 / (fyy - fy * fy / nf), 6) AS r2
    FROM fits2
    """,
)
def ml_kfold_cv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-fold CV of the order-value OLS (ml.eval.kfold_cv_ols):
    every fold's leave-out fit is total-minus-fold moment subtraction —
    ONE fact scan for the entire cross-validation, where a generic
    CrossValidator launches K training jobs. Folds come from the same
    md5 hash as ml_target_encoding (shared split infrastructure);
    per-fold rows expose the CV dispersion, not just the mean."""
    from ..ml.eval import kfold_cv_ols

    o = load_table(spark, sf_dir, "orders")
    base = o.select(
        F.year("o_orderdate").cast("double").alias("x"),
        F.round(F.col("o_totalprice") * 100).cast("long").cast("double").alias("y"),
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit("fold:"), F.col("o_orderkey").cast("string")
                        )
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(5),
        )
        .cast("int")
        .alias("fold"),
    )
    return kfold_cv_ols(base, "fold", "x", "y")


@query(
    "ts_stl_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t,
             epoch_us(date_trunc('hour', ts)) // 1000000 AS h,
             CAST(count(*) AS DOUBLE) AS n
      FROM events GROUP BY 1, 2
    ),
    tr AS (
      SELECT t, h, n,
             avg(n) OVER (PARTITION BY t ORDER BY h
                          ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
               AS trend,
             count(*) OVER (PARTITION BY t ORDER BY h
                            ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
               AS wn
      FROM hourly
    ),
    det AS (
      SELECT t, h, n, trend, n - trend AS dt,
             (epoch_us(make_timestamp(h * 1000000)) // 1000000 % 86400)
               // 3600 AS hod
      FROM tr WHERE wn = 25
    ),
    seas AS (
      SELECT t, hod, avg(dt) AS s FROM det GROUP BY 1, 2
    ),
    parts AS (
      SELECT d.t, d.n, d.trend, d.dt, se.s, d.dt - se.s AS r
      FROM det d JOIN seas se ON se.t = d.t AND se.hod = d.hod
    ),
    v AS (
      SELECT t, count(*) AS n_hours,
             sum(r * r) - sum(r) * sum(r) / count(*) AS vr,
             sum((trend + r) * (trend + r))
               - sum(trend + r) * sum(trend + r) / count(*) AS vtr,
             sum((s + r) * (s + r))
               - sum(s + r) * sum(s + r) / count(*) AS vsr
      FROM parts GROUP BY 1
    )
    SELECT t AS event_type, CAST(n_hours AS BIGINT) AS n_hours,
           round(greatest(0.0, 1.0 - vr / vtr), 4) AS trend_strength,
           round(greatest(0.0, 1.0 - vr / vsr), 4) AS seasonal_strength
    FROM v
    """,
)
def ts_stl_strength_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-lite decomposition strength (Hyndman's F_T / F_S): hourly
    counts decompose into a centered 25h moving-average trend, an
    hour-of-day seasonal mean of the detrended series, and a remainder;
    strengths are 1 − var(R)/var(T+R) and 1 − var(R)/var(S+R), clamped
    at 0 — the is-this-series-worth-deseasonalizing scalar pair next to
    ts_seasonality_anova's value-based η². Edge hours without the full
    25-row window drop explicitly (wn = 25) so both engines decompose
    the identical interior; variances from moment sums over that
    bounded series."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", F.col("ts")).cast("long").alias("h"),
    ).agg(F.count(F.lit(1)).cast("double").alias("n"))
    w = (
        Window.partitionBy("t")
        .orderBy("h")
        .rowsBetween(-12, 12)
    )
    tr = hourly.select(
        "t",
        "h",
        "n",
        F.avg("n").over(w).alias("trend"),
        F.count(F.lit(1)).over(w).alias("wn"),
    )
    # detrended series hub (keys x interior hours, bounded) consumed by
    # the seasonal-mean agg AND the remainder join — checkpoint so the
    # corpus groupBy + 25h window run once (r8 scan audit).
    det = (
        tr.filter(F.col("wn") == 25)
        .select(
            "t",
            "n",
            "trend",
            (F.col("n") - F.col("trend")).alias("dt"),
            (F.pmod(F.col("h"), F.lit(86400)) / 3600)
            .cast("long")
            .alias("hod"),
        )
        .localCheckpoint(eager=True)
    )
    seas = det.groupBy("t", "hod").agg(F.avg("dt").alias("s"))
    parts = det.join(seas, ["t", "hod"]).select(
        "t",
        "trend",
        "s",
        (F.col("dt") - F.col("s")).alias("r"),
    )
    v = parts.groupBy("t").agg(
        F.count(F.lit(1)).alias("n_hours"),
        (
            F.sum(F.col("r") * F.col("r"))
            - F.sum("r") * F.sum("r") / F.count(F.lit(1))
        ).alias("vr"),
        (
            F.sum((F.col("trend") + F.col("r")) * (F.col("trend") + F.col("r")))
            - F.sum(F.col("trend") + F.col("r"))
            * F.sum(F.col("trend") + F.col("r"))
            / F.count(F.lit(1))
        ).alias("vtr"),
        (
            F.sum((F.col("s") + F.col("r")) * (F.col("s") + F.col("r")))
            - F.sum(F.col("s") + F.col("r"))
            * F.sum(F.col("s") + F.col("r"))
            / F.count(F.lit(1))
        ).alias("vsr"),
    )
    return v.select(
        F.col("t").alias("event_type"),
        F.col("n_hours"),
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vtr")), 4).alias(
            "trend_strength"
        ),
        F.round(F.greatest(F.lit(0.0), 1.0 - F.col("vr") / F.col("vsr")), 4).alias(
            "seasonal_strength"
        ),
    )


@query(
    "ts_ab_srm",
    oracle="""
    WITH a AS (
      SELECT DISTINCT user_id,
             CAST(CAST('0x' || substr(md5('ab:' ||
                  CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2
                  AS INTEGER) AS variant
      FROM events
    ),
    c AS (
      SELECT CAST(count(*) AS BIGINT) AS n,
             CAST(sum(variant) AS BIGINT) AS n_b
      FROM a
    )
    SELECT n, n - n_b AS n_a, n_b,
           round((n_b - n / 2.0) / sqrt(n / 4.0), 6) AS z,
           abs((n_b - n / 2.0) / sqrt(n / 4.0)) > 3.0 AS srm_flag
    FROM c
    """,
)
def ts_ab_srm_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guard for a 50/50 md5 assignment: the z-test
    of observed variant counts against the design split — the FIRST check
    an experimentation platform runs, because a skewed split invalidates
    every downstream readout (CUPED, SPRT, Wilson — all already in the
    registry assume it passed). |z| > 3 flags; with an honest hash the
    flag stays false, which the entry certifies. One distinct + one
    1-row aggregate."""
    ev = load_table(spark, sf_dir, "events")
    a = ev.select(
        "user_id",
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("ab:"), F.col("user_id").cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(2),
        )
        .cast("int")
        .alias("variant"),
    ).distinct()
    c = a.agg(
        F.count(F.lit(1)).alias("n"), F.sum("variant").alias("n_b")
    )
    z = (F.col("n_b") - F.col("n") / 2.0) / F.sqrt(F.col("n") / 4.0)
    return c.select(
        "n",
        (F.col("n") - F.col("n_b")).alias("n_a"),
        "n_b",
        F.round(z, 6).alias("z"),
        (F.abs(z) > 3.0).alias("srm_flag"),
    )


@query(
    "ts_resample_locf",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t,
             epoch_us(date_trunc('hour', ts)) // 1000000 AS h,
             CAST(round(sum(value) * 100) AS BIGINT) AS cents
      FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT min(h) AS h0, max(h) AS h1 FROM hourly),
    types AS (SELECT DISTINCT t FROM hourly),
    spine AS (
      SELECT ty.t, b.h0 + 3600 * s.i AS h
      FROM types ty CROSS JOIN bounds b,
           unnest(generate_series(0, CAST((b.h1 - b.h0) / 3600 AS BIGINT)))
             AS s(i)
    ),
    j AS (
      SELECT sp.t, sp.h, hr.cents
      FROM spine sp LEFT JOIN hourly hr ON hr.t = sp.t AND hr.h = sp.h
    ),
    ff AS (
      SELECT t, h, cents,
             last_value(cents IGNORE NULLS)
               OVER (PARTITION BY t ORDER BY h
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS locf_cents
      FROM j
    )
    SELECT t AS event_type, CAST(h AS BIGINT) AS hour_epoch,
           cents IS NULL AS was_gap,
           coalesce(locf_cents, 0) AS locf_cents
    FROM ff
    """,
)
def ts_resample_locf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense hourly resample with last-observation-carried-forward: the
    step-function semantics (sensor readings, account balances, prices)
    complementing ts_interpolate_linear's sloped fill and
    ts_resample_gap_fill's zero fill — three explicit gap policies, each
    hash-certified. Spine generated from the corpus bounds; leading gaps
    before the first observation fill 0 explicitly. One ignore-nulls
    window per type over the spine join."""
    ev = load_table(spark, sf_dir, "events")
    # keys x hours hub consumed by bounds, the key set and the spine
    # join — checkpoint so the corpus groupBy runs once (r8 scan audit).
    hourly = (
        ev.groupBy(
            F.col("event_type").alias("t"),
            F.date_trunc("hour", F.col("ts")).cast("long").alias("h"),
        )
        .agg(F.round(F.sum("value") * 100).cast("long").alias("cents"))
        .localCheckpoint(eager=True)
    )
    bounds = hourly.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    types = hourly.select("t").distinct()
    spine = types.crossJoin(F.broadcast(bounds)).select(
        "t",
        F.explode(
            F.sequence(F.col("h0"), F.col("h1"), F.lit(3600))
        ).alias("h"),
    )
    j = spine.join(hourly, ["t", "h"], "left")
    w = (
        Window.partitionBy("t")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        F.col("t").alias("event_type"),
        F.col("h").alias("hour_epoch"),
        F.col("cents").isNull().alias("was_gap"),
        F.coalesce(
            F.last("cents", ignorenulls=True).over(w), F.lit(0)
        ).alias("locf_cents"),
    )


@query(
    "rel_compaction_plan",
    oracle="""
    WITH f AS (
      SELECT source, doc_id, n_chars,
             sum(n_chars) OVER (PARTITION BY source ORDER BY doc_id
                                ROWS UNBOUNDED PRECEDING) AS cum
      FROM documents
    ),
    binned AS (
      SELECT source, doc_id, n_chars,
             CAST((cum - n_chars) // 20000 AS BIGINT) AS bin
      FROM f
    )
    SELECT source, bin,
           CAST(count(*) AS BIGINT) AS n_files,
           CAST(sum(n_chars) AS BIGINT) AS bytes
    FROM binned GROUP BY 1, 2
    """,
)
def rel_compaction_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction plan: pack each source's documents (stand-in
    for data files, sized by n_chars) into ~20 KB target bins by
    CUMULATIVE-SUM assignment — bin = floor((cumsum − size)/target), the
    deterministic one-window-pass packing a table-maintenance job uses
    (first-fit-decreasing is sequential and order-fragile; cumsum
    packing overshoots a bin by at most one file, which is the accepted
    lakehouse trade). Output is the bin manifest a rewrite job consumes."""
    docs = load_table(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    f = docs.select(
        "source",
        "doc_id",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    return (
        f.select(
            "source",
            "doc_id",
            "n_chars",
            F.floor((F.col("cum") - F.col("n_chars")) / 20000).alias("bin"),
        )
        .groupBy("source", "bin")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("bytes"),
        )
    )


@query(
    "ext_audio_frame_features",
    # Full PCM replay: the stand-in decode chains sha256 over hex strings
    # (multimodal.audio_frame_features._default_decode), so a 128-step
    # recursive CTE reproduces the byte stream; each 32-byte block holds
    # 16 little-endian int16 samples. Sum-of-squares stays < 2^38 — exact
    # in float64 under ANY summation order, so numpy's pairwise mean and
    # SQL's sequential sum produce the identical double before sqrt.
    oracle="""
    WITH RECURSIVE chain AS (
      SELECT doc_id AS media_id, 0 AS k, sha256(text) AS hx FROM documents
      UNION ALL
      SELECT media_id, k + 1, sha256(hx) FROM chain WHERE k < 127
    ), samples AS (
      SELECT media_id,
             (16 * k + m) // 256 AS frame_idx,
             (16 * k + m) % 256 AS pos,
             CASE WHEN u >= 32768 THEN u - 65536 ELSE u END AS s
      FROM (
        SELECT media_id, k, hx, unnest(range(16)) AS m FROM chain
      ), LATERAL (
        SELECT CAST('0x' || substr(hx, 4 * m + 3, 2)
                         || substr(hx, 4 * m + 1, 2) AS INTEGER) AS u
      )
    ), sg AS (
      SELECT media_id, frame_idx, pos, s, sign(s) AS g,
             lag(sign(s)) OVER (PARTITION BY media_id, frame_idx
                                ORDER BY pos) AS pg
      FROM samples
    )
    SELECT media_id,
           CAST(frame_idx AS INTEGER) AS frame_idx,
           round(sqrt(CAST(sum(CAST(s AS BIGINT) * s) AS DOUBLE) / 256.0), 4)
             AS rms,
           round(sum(CASE WHEN abs(g - pg) > 1 THEN 1 ELSE 0 END)
                 / 255.0, 4) AS zcr
    FROM sg
    GROUP BY media_id, frame_idx
    """,
)
def ext_audio_features_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio frame features (ext.multimodal.audio_frame_features): RMS
    energy + zero-crossing rate for 8 fixed frames per payload — the
    VAD/segmentation primitives, completing the modality matrix next to
    the image and video legs. Promoted from rows-only in round 8: the
    PCM stand-in now chains sha256 over hex strings, so a recursive CTE
    replays the full byte stream and both features hash-certify (RMS
    sum-of-squares < 2^38 is exact in float64 under any summation order;
    ZCR's |Δsign| > 1 rule matches numpy's diff-of-signs). The Arrow
    batching, frame shapes and injectable real-codec path stay
    pytest-pinned."""
    from ..ext.multimodal import audio_frame_features, synthesize_media_from_docs

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_docs(docs, media_type="audio")
    return audio_frame_features(media, frame_len=256, n_frames=8)


@query(
    "ext_vocab_coverage_curve",
    oracle="""
    WITH t AS (
      SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
      FROM documents
    ),
    c AS (SELECT tok, count(*) AS n FROM t WHERE tok <> '' GROUP BY 1),
    r AS (
      SELECT n,
             row_number() OVER (ORDER BY n DESC, tok ASC) AS rnk,
             sum(n) OVER () AS total
      FROM c
    ),
    cum AS (
      SELECT rnk, total,
             sum(n) OVER (ORDER BY rnk ROWS UNBOUNDED PRECEDING) AS cum_n
      FROM r
    ),
    ks AS (SELECT unnest([10, 100, 1000]) AS k)
    SELECT CAST(ks.k AS INTEGER) AS vocab_size,
           round(max(CASE WHEN cum.rnk <= ks.k THEN cum.cum_n END)
                 * 1.0 / max(cum.total), 6) AS coverage
    FROM ks CROSS JOIN cum
    GROUP BY ks.k
    """,
)
def ext_vocab_coverage_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve: the share of token OCCURRENCES covered
    by the top-10/100/1000 types — the number that sizes a tokenizer
    vocabulary (coverage flattening ⇒ bigger vocab buys only tail
    handling; the occurrence-weighted companion to ext_zipf_fit's
    rank-frequency slope). One count aggregate, then rank, cumulative,
    and grand total all ride ONE two-pass range exchange
    (global_running_sums over (n DESC, tok ASC): rank = running sum of 1,
    bit-identical to row_number — r11 rewire; the former global rank +
    cumulative windows funneled the vocabulary, which IS data-sized at
    100 TB, through one partition), three threshold reads off the same
    cumulative."""
    from ..operators.window import global_running_sums

    docs = load_table(spark, sf_dir, "documents")
    t = docs.select(
        F.explode(F.split(F.trim(F.col("text")), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    c = (
        t.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("__one", F.lit(1).cast("long"))
    )
    r = global_running_sums(
        c,
        [F.col("n").desc(), F.col("tok").asc()],
        ["n", "__one"],
        ["cum_n", "rnk"],
        totals=["total", None],
    )
    cum = r.select(
        "rnk", "total", "cum_n"
    ).localCheckpoint(eager=True)  # vocab-cardinality; read per threshold
    ks = spark.createDataFrame([(10,), (100,), (1000,)], "k int")
    return (
        ks.crossJoin(cum)
        .groupBy("k")
        .agg(
            F.round(
                F.max(F.when(F.col("rnk") <= F.col("k"), F.col("cum_n")))
                * 1.0
                / F.max("total"),
                6,
            ).alias("coverage")
        )
        .select(F.col("k").alias("vocab_size"), "coverage")
    )


@query(
    "ts_max_drawdown",
    oracle="""
    WITH bal AS (
      SELECT user_id, ts, event_id,
             sum(CASE WHEN event_type IN ('purchase', 'signup')
                      THEN CAST(round(value * 100) AS BIGINT)
                      ELSE -CAST(round(value * 100) AS BIGINT) END)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING) AS bal
      FROM events
    ),
    dd AS (
      SELECT user_id, bal,
             max(bal) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS peak
      FROM bal
    )
    SELECT user_id,
           CAST(max(peak - bal) AS BIGINT) AS max_drawdown_cents,
           CAST(max(peak) AS BIGINT) AS peak_cents
    FROM dd GROUP BY 1
    """,
)
def ts_max_drawdown_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximum drawdown per user over the credit/debit running balance:
    max(running-peak − balance) — the classic peak-to-trough risk metric
    (finance drawdown, battery depth-of-discharge, inventory dip), which
    needs TWO stacked running windows and no recurrence: unlike the
    zero-clamped balance this composes from plain cumulative max/sum, so
    it stays a pure window plan. Integer cents, one user-key sort serves
    both windows."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    delta = F.when(
        F.col("event_type").isin("purchase", "signup"), cents
    ).otherwise(-cents)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    bal = ev.select(
        "user_id", "ts", "event_id", F.sum(delta).over(w).alias("bal")
    ).select("user_id", "bal", F.max("bal").over(w).alias("peak"))
    return bal.groupBy("user_id").agg(
        F.max(F.col("peak") - F.col("bal")).alias("max_drawdown_cents"),
        F.max("peak").alias("peak_cents"),
    )


@query(
    "ml_residual_diagnostics",
    oracle="""
    WITH u AS (
      SELECT l_quantity AS x,
             CAST(CAST(round(l_extendedprice * 100) AS BIGINT) AS DOUBLE)
               AS y
      FROM lineitem
    ),
    m AS (
      SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             sum(x * y) AS sxy, sum(x * x) AS sxx
      FROM u
    ),
    fit AS (
      SELECT n,
             (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b, sx, sy
      FROM m
    ),
    fit2 AS (SELECT n, b, (sy - b * sx) / n AS a FROM fit),
    res AS (
      SELECT u.x, u.y - (f.a + f.b * u.x) AS r
      FROM u CROSS JOIN fit2 f
    ),
    mm AS (
      SELECT count(*) AS n, sum(r) AS s1, sum(r * r) AS s2,
             sum(r * r * r) AS s3,
             sum(x) AS sx, sum(x * x) AS sxx2,
             sum(abs(r)) AS sa, sum(x * abs(r)) AS sxa,
             sum(abs(r) * abs(r)) AS saa
      FROM res
    )
    SELECT CAST(n AS BIGINT) AS n,
           round((s3 / n - 3 * (s2 / n) * (s1 / n)
                  + 2 * (s1 / n) * (s1 / n) * (s1 / n))
                 / pow(s2 / n - (s1 / n) * (s1 / n), 1.5), 6)
             AS resid_skew,
           round((n * sxa - sx * sa)
                 / sqrt((n * sxx2 - sx * sx) * (n * saa - sa * sa)), 6)
             AS het_corr
    FROM mm
    """,
)
def ml_residual_diag_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regression residual diagnostics for price ~ quantity: residual
    SKEWNESS (asymmetric errors break symmetric prediction intervals)
    and the heteroscedasticity screen corr(x, |resid|) — a strong
    positive value says error scale grows with the feature, the
    Breusch-Pagan-flavored one-number check. Closed-form fit + two
    moment passes (fit moments, then residual moments in one aggregate);
    every input is an integer-valued double, divisions last."""
    li = load_table(spark, sf_dir, "lineitem")
    u = li.select(
        F.col("l_quantity").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("long").cast("double").alias("y"),
    )
    m = u.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    fit = m.select(
        "n",
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy"))
         / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))).alias("b"),
        "sx",
        "sy",
    ).select(
        "n", "b", ((F.col("sy") - F.col("b") * F.col("sx")) / F.col("n")).alias("a")
    ).localCheckpoint(eager=True)  # 1-row fit feeding the residual pass
    res = u.crossJoin(F.broadcast(fit)).select(
        "x", (F.col("y") - (F.col("a") + F.col("b") * F.col("x"))).alias("r")
    )
    mm = res.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r").alias("s1"),
        F.sum(F.col("r") * F.col("r")).alias("s2"),
        F.sum(F.col("r") * F.col("r") * F.col("r")).alias("s3"),
        F.sum("x").alias("sx"),
        F.sum(F.col("x") * F.col("x")).alias("sxx2"),
        F.sum(F.abs(F.col("r"))).alias("sa"),
        F.sum(F.col("x") * F.abs(F.col("r"))).alias("sxa"),
        F.sum(F.abs(F.col("r")) * F.abs(F.col("r"))).alias("saa"),
    )
    n, s1, s2, s3 = F.col("n"), F.col("s1"), F.col("s2"), F.col("s3")
    skew = (
        s3 / n - 3 * (s2 / n) * (s1 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n)
    ) / F.pow(s2 / n - (s1 / n) * (s1 / n), 1.5)
    het = (n * F.col("sxa") - F.col("sx") * F.col("sa")) / F.sqrt(
        (n * F.col("sxx2") - F.col("sx") * F.col("sx"))
        * (n * F.col("saa") - F.col("sa") * F.col("sa"))
    )
    return mm.select(
        "n",
        F.round(skew, 6).alias("resid_skew"),
        F.round(het, 6).alias("het_corr"),
    )


@query(
    "ts_current_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(date_trunc('day', ts) AS DATE) AS d
      FROM events
    ),
    mx AS (SELECT max(d) AS dmax FROM days),
    grp AS (
      SELECT user_id, d,
             d - CAST(row_number() OVER (PARTITION BY user_id ORDER BY d)
                      AS INTEGER) AS g
      FROM days
    ),
    isl AS (
      SELECT user_id, g, count(*) AS len, max(d) AS last_d
      FROM grp GROUP BY 1, 2
    )
    SELECT i.user_id,
           CAST(i.len AS BIGINT) AS current_streak_days,
           i.last_d = m.dmax AS active_today
    FROM isl i CROSS JOIN mx m
    WHERE i.last_d >= m.dmax - INTERVAL 1 DAY
    QUALIFY row_number() OVER (PARTITION BY i.user_id
                               ORDER BY i.last_d DESC) = 1
    """,
)
def ts_current_streaks_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRENT consecutive-day activity streak per user, as of the corpus
    max date — the gamified-retention counter (ts_gaps_islands reports
    the historical longest; products display the live one). A user
    qualifies if their latest island touches the last or second-to-last
    day (the grace-day convention: a streak isn't broken until a full
    day is missed); the date-minus-row_number island trick, evaluated on
    distinct (user, day) rows only."""
    ev = load_table(spark, sf_dir, "events")
    days = ev.select(
        "user_id", F.date_trunc("day", F.col("ts")).cast("date").alias("d")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        F.date_sub(F.col("d"), F.row_number().over(w)).alias("g"),
    )
    # island table is small (one row per user-streak) and feeds both the
    # corpus max-date scalar and the pick window - checkpoint it and
    # derive dmax FROM it (max(last_d) == max(d) since every day lands
    # in some island), so the distinct shuffle runs once (r8 scan audit).
    isl = (
        grp.groupBy("user_id", "g")
        .agg(F.count(F.lit(1)).alias("len"), F.max("d").alias("last_d"))
        .localCheckpoint(eager=True)
    )
    mx = isl.agg(F.max("last_d").alias("dmax"))
    wpick = Window.partitionBy("user_id").orderBy(F.col("last_d").desc())
    return (
        isl.crossJoin(F.broadcast(mx))
        .filter(F.col("last_d") >= F.date_sub(F.col("dmax"), 1))
        .withColumn("__rn", F.row_number().over(wpick))
        .filter(F.col("__rn") == 1)
        .select(
            "user_id",
            F.col("len").alias("current_streak_days"),
            (F.col("last_d") == F.col("dmax")).alias("active_today"),
        )
    )


@query(
    "rel_weighted_median",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS pr,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents,
             CAST(l_quantity AS BIGINT) AS wgt,
             l_orderkey, l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT pr, price_cents, wgt,
             sum(wgt) OVER (PARTITION BY pr
                            ORDER BY price_cents, l_orderkey, l_linenumber
                            ROWS UNBOUNDED PRECEDING) AS cw,
             sum(wgt) OVER (PARTITION BY pr) AS tw
      FROM v
    )
    SELECT pr AS o_orderpriority,
           CAST(max(tw) AS BIGINT) AS total_weight,
           CAST(min(CASE WHEN cw * 2 >= tw THEN price_cents END)
                AS BIGINT) AS weighted_median_cents
    FROM r GROUP BY pr
    """,
)
def rel_weighted_median_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity-weighted median line price per priority: the value where
    CUMULATIVE weight first reaches half the total — the unit-economics
    median ('half the UNITS ship at or below this price'), which the
    row-median entries can't express. All-integer weights, so the
    crossing rank is exact; the cumulative rides the same ordered window
    discipline as median_ci with a composite tie-break."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    v = li.join(o, li.l_orderkey == o.o_orderkey).select(
        F.col("o_orderpriority").alias("pr"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("price_cents"),
        F.col("l_quantity").cast("long").alias("wgt"),
        "l_orderkey",
        "l_linenumber",
    )
    w_cum = (
        Window.partitionBy("pr")
        .orderBy("price_cents", "l_orderkey", "l_linenumber")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("pr")
    r = v.select(
        "pr",
        "price_cents",
        F.sum("wgt").over(w_cum).alias("cw"),
        F.sum("wgt").over(w_all).alias("tw"),
    )
    return r.groupBy(F.col("pr").alias("o_orderpriority")).agg(
        F.max("tw").alias("total_weight"),
        F.min(
            F.when(F.col("cw") * 2 >= F.col("tw"), F.col("price_cents"))
        ).alias("weighted_median_cents"),
    )


@query(
    "rel_hhi_concentration",
    oracle="""
    WITH rev AS (
      SELECT n.n_name AS nation, s.s_suppkey AS supp,
             sum(CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT)) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY 1, 2
    ),
    tot AS (SELECT nation, sum(cents) AS t FROM rev GROUP BY 1)
    SELECT r.nation,
           CAST(count(*) AS BIGINT) AS n_suppliers,
           round(sum((r.cents * 1.0 / t.t) * (r.cents * 1.0 / t.t)), 6)
             AS hhi,
           round(max(r.cents * 1.0 / t.t), 6) AS top_share
    FROM rev r JOIN tot t USING (nation)
    GROUP BY r.nation
    """,
)
def rel_hhi_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier revenue concentration per nation: the Herfindahl–
    Hirschman index (Σ share²) plus the single largest share — the
    market-concentration / vendor-risk metric next to rel_gini_revenue's
    inequality curve (HHI weights the head, Gini the whole
    distribution). Supplier-grain integer-cent aggregate, nation totals
    joined back, shares squared in-plan."""
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    cents = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
    ).cast("long")
    rev = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"), F.col("s_suppkey").alias("supp"))
        .agg(F.sum(cents).alias("cents"))
    )
    tot = rev.groupBy("nation").agg(F.sum("cents").alias("t"))
    share = F.col("cents") * 1.0 / F.col("t")
    return (
        rev.join(tot, "nation")
        .groupBy("nation")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum(share * share), 6).alias("hhi"),
            F.round(F.max(share), 6).alias("top_share"),
        )
    )


@query(
    "ts_atypical_users",
    oracle="""
    WITH uh AS (
      SELECT user_id, EXTRACT(hour FROM ts) AS hod, count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    gh AS (SELECT hod, sum(n) AS gn FROM uh GROUP BY 1),
    dots AS (
      SELECT u.user_id,
             sum(u.n * g.gn) AS dp,
             sum(u.n * u.n) AS uu
      FROM uh u JOIN gh g USING (hod)
      GROUP BY 1
    ),
    gg AS (SELECT sum(gn * gn) AS ggn FROM gh),
    tot AS (SELECT user_id, sum(n) AS n_events FROM uh GROUP BY 1)
    SELECT CAST(row_number() OVER (
             ORDER BY round(d.dp / (sqrt(d.uu) * sqrt(g.ggn)), 6) ASC,
                      d.user_id ASC) AS INTEGER) AS rank,
           d.user_id,
           CAST(t.n_events AS BIGINT) AS n_events,
           round(d.dp / (sqrt(d.uu) * sqrt(g.ggn)), 6) AS profile_cosine
    FROM dots d CROSS JOIN gg g JOIN tot t USING (user_id)
    QUALIFY rank <= 20
    """,
)
def ts_atypical_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 20 users whose hour-of-day activity profile is LEAST aligned
    with the global profile (cosine between 24-dim count vectors) — the
    bot/timezone-anomaly segmentation primitive: scripted accounts and
    far-shifted users sit at the bottom of this ranking. Profiles never
    materialize as arrays: the cosine assembles from (user, hod) × (hod)
    joint sums — one hod-keyed join of a user×24-bounded table, integer
    products, ranking on the ROUNDED cosine with user tie-break."""
    ev = load_table(spark, sf_dir, "events")
    # uh is the users x 24 profile hub consumed by FOUR downstream aggs
    # (gh, dots, gg-via-gh, tot); one checkpoint cut = one corpus scan
    # (the r8 scan audit found this entry re-scanning events 4x).
    uh = (
        ev.groupBy("user_id", F.hour("ts").cast("long").alias("hod"))
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    gh = uh.groupBy("hod").agg(F.sum("n").alias("gn"))
    dots = (
        uh.join(F.broadcast(gh), "hod")
        .groupBy("user_id")
        .agg(
            F.sum(F.col("n") * F.col("gn")).alias("dp"),
            F.sum(F.col("n") * F.col("n")).alias("uu"),
        )
    )
    gg = gh.agg(F.sum(F.col("gn") * F.col("gn")).alias("ggn"))
    tot = uh.groupBy("user_id").agg(F.sum("n").alias("n_events"))
    cosine = F.col("dp") / (F.sqrt(F.col("uu")) * F.sqrt(F.col("ggn")))
    w = Window.orderBy(F.round(cosine, 6).asc(), F.col("user_id").asc())
    return (
        dots.crossJoin(F.broadcast(gg))
        .join(tot, "user_id")
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select(
            "rank",
            "user_id",
            "n_events",
            F.round(cosine, 6).alias("profile_cosine"),
        )
    )


@query(
    "rel_group_mean_impute",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_orderpriority,
             CASE WHEN CAST('0x' || substr(md5('imp:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) % 10 < 2
                  THEN NULL
                  ELSE CAST(round(o_totalprice * 100) AS BIGINT) END
               AS cents
      FROM orders
    ),
    gm AS (
      SELECT o_orderpriority,
             CAST(round(avg(cents)) AS BIGINT) AS g_mean
      FROM base WHERE cents IS NOT NULL GROUP BY 1
    )
    SELECT b.o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN b.cents IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_imputed,
           CAST(max(g.g_mean) AS BIGINT) AS impute_value_cents,
           CAST(sum(coalesce(b.cents, g.g_mean)) AS BIGINT)
             AS total_after_impute_cents
    FROM base b JOIN gm g USING (o_orderpriority)
    GROUP BY b.o_orderpriority
    """,
)
def rel_group_impute_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Group-mean imputation under the hash oracle: order values are
    deterministically MASKED null at 20% (md5 gate), imputed with the
    priority's mean of the SURVIVING values (rounded to integer cents so
    the fill value itself hashes exactly), and the entry reports the
    imputed count plus the post-imputation total — certifying the fill
    arithmetic end-to-end, not just that nulls went away (the
    ML-pipeline Imputer's contract, driver-visible). One aggregate for
    the means, one broadcast join back."""
    o = load_table(spark, sf_dir, "orders")
    gate = (
        F.pmod(
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(F.lit("imp:"), F.col("o_orderkey").cast("string"))
                    ),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long"),
            F.lit(10),
        )
        < 2
    )
    base = o.select(
        "o_orderpriority",
        F.when(gate, F.lit(None))
        .otherwise(F.round(F.col("o_totalprice") * 100).cast("long"))
        .alias("cents"),
    )
    gm = (
        base.filter(F.col("cents").isNotNull())
        .groupBy("o_orderpriority")
        .agg(F.round(F.avg("cents")).cast("long").alias("g_mean"))
    )
    return (
        base.join(F.broadcast(gm), "o_orderpriority")
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("cents").isNull().cast("long")).alias("n_imputed"),
            F.max("g_mean").alias("impute_value_cents"),
            F.sum(F.coalesce(F.col("cents"), F.col("g_mean"))).alias(
                "total_after_impute_cents"
            ),
        )
    )


@query(
    "ts_mix_shift_tv",
    oracle="""
    WITH wk AS (
      SELECT CAST(date_trunc('week', ts) AS DATE) AS w, event_type AS t,
             count(*) AS n
      FROM events GROUP BY 1, 2
    ),
    tot AS (SELECT w, sum(n) AS tn FROM wk GROUP BY 1),
    p AS (
      SELECT wk.w, wk.t, wk.n * 1.0 / tot.tn AS p
      FROM wk JOIN tot USING (w)
    ),
    weeks AS (
      SELECT w, lag(w) OVER (ORDER BY w) AS prev_w
      FROM (SELECT DISTINCT w FROM p)
    ),
    pairs AS (
      SELECT wp.w, cur.t,
             cur.p AS p_cur, coalesce(prev.p, 0.0) AS p_prev
      FROM weeks wp
      JOIN p cur ON cur.w = wp.w
      LEFT JOIN p prev ON prev.w = wp.prev_w AND prev.t = cur.t
      WHERE wp.prev_w IS NOT NULL
    )
    SELECT w AS week,
           round(sum(abs(p_cur - p_prev)) / 2.0, 6) AS tv_distance
    FROM pairs GROUP BY 1
    """,
)
def ts_mix_shift_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week total-variation distance of the event-type mix:
    TV = ½·Σ|p_t − p_{t,prev}| — the categorical drift metric next to
    rel_psi_drift's binned-numeric PSI and rel_feature_drift_ks's
    continuous KS (the drift family now covers all three variable
    kinds). Types absent from the previous week contribute their full
    share (coalesce 0); the symmetric missing-type case is bounded by
    the current week's own mass. Week×type-cardinality tables
    throughout."""
    ev = load_table(spark, sf_dir, "events")
    wk = ev.groupBy(
        F.date_trunc("week", F.col("ts")).cast("date").alias("w"),
        F.col("event_type").alias("t"),
    ).agg(F.count(F.lit(1)).alias("n"))
    tot = wk.groupBy("w").agg(F.sum("n").alias("tn"))
    p = wk.join(tot, "w").select(
        "w", "t", (F.col("n") * 1.0 / F.col("tn")).alias("p")
    ).localCheckpoint(eager=True)  # read as current AND previous side
    wlag = Window.orderBy("w")
    weeks = p.select("w").distinct().select(
        "w", F.lag("w").over(wlag).alias("prev_w")
    )
    cur = p.select(F.col("w").alias("cw"), "t", F.col("p").alias("p_cur"))
    prev = p.select(
        F.col("w").alias("pw"), F.col("t").alias("pt"), F.col("p").alias("p_prev")
    )
    pairs = (
        weeks.filter(F.col("prev_w").isNotNull())
        .join(cur, F.col("cw") == F.col("w"))
        .join(
            prev,
            (F.col("pw") == F.col("prev_w")) & (F.col("pt") == F.col("t")),
            "left",
        )
    )
    return pairs.groupBy(F.col("w").alias("week")).agg(
        F.round(
            F.sum(F.abs(F.col("p_cur") - F.coalesce(F.col("p_prev"), F.lit(0.0))))
            / 2.0,
            6,
        ).alias("tv_distance")
    )


@query(
    "ml_brier_decomposition",
    oracle=f"""
    WITH {_SCORED_CTE},
    b AS (
      SELECT CAST(least(CAST(floor(score * 10) AS BIGINT), 9) AS INTEGER)
               AS bin,
             count(*) AS n, avg(score) AS conf,
             avg(CAST(label AS DOUBLE)) AS acc
      FROM scored GROUP BY 1
    ),
    t AS (
      SELECT sum(n) AS nt, sum(n * acc) / sum(n) AS base FROM b
    ),
    ex AS (
      SELECT avg((score - label) * (score - label)) AS brier FROM scored
    )
    SELECT CAST(t.nt AS BIGINT) AS n,
           round(ex.brier, 6) AS brier,
           round(sum((b.n * 1.0 / t.nt)
                     * (b.conf - b.acc) * (b.conf - b.acc)), 6)
             AS reliability,
           round(sum((b.n * 1.0 / t.nt)
                     * (b.acc - t.base) * (b.acc - t.base)), 6)
             AS resolution,
           round(max(t.base * (1.0 - t.base)), 6) AS uncertainty
    FROM b CROSS JOIN t CROSS JOIN ex
    GROUP BY t.nt, ex.brier
    """,
)
def ml_brier_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brier score with the Murphy decomposition (reliability −
    resolution + uncertainty over 10 bins): the proper-scoring-rule
    companion to ml_ece — ECE says HOW FAR the bins sit from the
    diagonal, the decomposition says whether the model's problem is
    miscalibration (reliability) or indiscrimination (low resolution).
    Exact Brier from one pass; decomposition from the shared bin
    table."""
    scored = _scored_orders(spark, sf_dir)
    b = scored.groupBy(
        F.least(F.floor(F.col("score") * 10).cast("long"), F.lit(9))
        .cast("int")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.avg("score").alias("conf"),
        F.avg(F.col("label").cast("double")).alias("acc"),
    ).localCheckpoint(eager=True)  # bin hub: totals + decomposition terms
    t = b.agg(
        F.sum("n").alias("nt"),
        (F.sum(F.col("n") * F.col("acc")) / F.sum("n")).alias("base"),
    )
    ex = scored.agg(
        F.avg(
            (F.col("score") - F.col("label"))
            * (F.col("score") - F.col("label"))
        ).alias("brier")
    )
    return (
        b.crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(ex))
        .groupBy("nt", "brier")
        .agg(
            F.round(
                F.sum(
                    (F.col("n") * 1.0 / F.col("nt"))
                    * (F.col("conf") - F.col("acc"))
                    * (F.col("conf") - F.col("acc"))
                ),
                6,
            ).alias("reliability"),
            F.round(
                F.sum(
                    (F.col("n") * 1.0 / F.col("nt"))
                    * (F.col("acc") - F.col("base"))
                    * (F.col("acc") - F.col("base"))
                ),
                6,
            ).alias("resolution"),
            F.round(F.max(F.col("base") * (1.0 - F.col("base"))), 6).alias(
                "uncertainty"
            ),
        )
        .select(
            F.col("nt").alias("n"),
            F.round("brier", 6).alias("brier"),
            "reliability",
            "resolution",
            "uncertainty",
        )
    )


@query(
    "ts_ingestion_order_audit",
    oracle="""
    WITH seq AS (
      SELECT event_type, epoch_us(ts) AS t_us,
             lag(epoch_us(ts)) OVER (PARTITION BY event_type
                                     ORDER BY event_id) AS prev_t
      FROM events
    )
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN prev_t IS NOT NULL AND t_us < prev_t
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_ooo,
           sum(CASE WHEN prev_t IS NOT NULL AND t_us < prev_t
                    THEN 1 ELSE 0 END) = 0 AS is_ordered
    FROM seq GROUP BY 1
    """,
)
def ts_order_audit_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingestion-order audit per event type: counts of adjacent pairs
    (by ingestion id) whose event time runs BACKWARD, with the
    is-ordered verdict — the data-quality invariant the streaming
    entries' watermark assumptions rest on, asserted as a positive
    check (the dq_expectations discipline: certify the invariant HOLDS
    with real counts, rather than emitting an empty violation set that
    hashes trivially). On the harness stream every type is fully
    ordered, and the entry proves it; disorder appearing upstream flips
    is_ordered without schema change. One lag window per type."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("event_id")
    seq = ev.select(
        "event_type",
        F.unix_micros(F.col("ts")).alias("t_us"),
        F.lag(F.unix_micros(F.col("ts"))).over(w).alias("prev_t"),
    )
    ooo = (F.col("prev_t").isNotNull() & (F.col("t_us") < F.col("prev_t"))).cast(
        "long"
    )
    return seq.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(ooo).alias("n_ooo"),
        (F.sum(ooo) == 0).alias("is_ordered"),
    )


@query(
    "rel_link_prediction_ra",
    oracle=f"""
    WITH {_EDGES_CTE},
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a AS z, count(*) AS d FROM sym GROUP BY 1),
    term AS (
      SELECT z,
             CAST(round(1000000000000.0 / CAST(d AS DOUBLE)) AS BIGINT) AS t
      FROM deg
    ),
    p AS (
      SELECT l.a AS na, r.a AS nb,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(t.t) AS BIGINT) AS s
      FROM sym l
      JOIN sym r ON l.b = r.b AND l.a < r.a
      JOIN term t ON t.z = l.b
      GROUP BY 1, 2
    ),
    ne AS (
      SELECT p.na, p.nb, p.n_common, p.s
      FROM p LEFT JOIN e ON e.a = p.na AND e.b = p.nb
      WHERE e.a IS NULL
    )
    SELECT na AS node_a, nb AS node_b, n_common,
           round(CAST(s AS DOUBLE) / 1000000000000.0, 6) AS ra_score
    FROM ne
    ORDER BY s DESC, na ASC, nb ASC
    LIMIT 20
    """,
)
def rel_link_pred_ra_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 predicted links in the repeat co-purchase graph by the
    resource-allocation index (operators.graph.resource_allocation_topk):
    Σ 1/deg(z) over shared neighbors z, with each term integer-scaled
    (round(1e12/deg) as bigint) so the pair score is EXACT integer
    summation — the design note in the operator docstring explains why
    RA hash-certifies where Adamic-Adar's 1/ln(deg) cannot. Existing
    edges are anti-joined out (it predicts absent links)."""
    # The wedge/degree/term/anti-join stages each re-derive the edge
    # table (14 lineitem scans measured by scan_audit); materialize it
    # once — the pagerank localCheckpoint precedent.
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    return G.resource_allocation_topk(edges, "pa", "pb", k=20)


@query(
    "rel_graph_assortativity",
    oracle=f"""
    WITH {_EDGES_CTE},
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, count(*) AS d FROM sym GROUP BY 1),
    ed AS (
      SELECT da.d AS dx, db.d AS dy
      FROM sym
      JOIN deg da ON da.a = sym.a
      JOIN deg db ON db.a = sym.b
    ),
    m AS (
      SELECT count(*) AS m,
             CAST(sum(dx) AS BIGINT) AS sx, CAST(sum(dy) AS BIGINT) AS sy,
             CAST(sum(dx * dy) AS BIGINT) AS sxy,
             CAST(sum(dx * dx) AS BIGINT) AS sxx,
             CAST(sum(dy * dy) AS BIGINT) AS syy
      FROM ed
    )
    SELECT CAST(m / 2 AS BIGINT) AS n_edges,
           round((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                 / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                 6) + 0.0 AS r
    FROM m
    """,
)
def rel_graph_assort_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman 2002) of the repeat co-purchase
    graph (operators.graph.degree_assortativity): Pearson of endpoint
    degrees over the symmetrized edge list — are hub parts co-purchased
    with other hubs? Moments exact bigint; one degree aggregate + one
    (broadcastable) degree join; complements rel_triangle_stats /
    rel_graph_kcore with the mixing-structure scalar."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    return G.degree_assortativity(edges, "pa", "pb")


@query(
    "rel_graph_bfs_layers",
    oracle=f"""
    WITH RECURSIVE {_EDGES_CTE},
    sym AS (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e),
    deg AS (SELECT a, count(*) AS d FROM sym GROUP BY 1),
    seed AS (
      SELECT a AS node FROM deg ORDER BY d DESC, a ASC LIMIT 1
    ),
    walk AS (
      SELECT node, 0 AS dist FROM seed
      UNION
      SELECT s.b AS node, w.dist + 1 AS dist
      FROM walk w JOIN sym s ON s.a = w.node
      WHERE w.dist < 4
    ),
    md AS (SELECT node, min(dist) AS dist FROM walk GROUP BY 1),
    layers AS (
      SELECT CAST(dist AS INTEGER) AS dist,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM md GROUP BY 1
    ),
    nodes AS (SELECT DISTINCT a AS node FROM sym),
    unreached AS (
      SELECT CAST(-1 AS INTEGER) AS dist,
             CAST(count(*) AS BIGINT) AS n_nodes
      FROM nodes n
      WHERE NOT EXISTS (SELECT 1 FROM md WHERE md.node = n.node)
    )
    SELECT dist, n_nodes FROM layers
    UNION ALL
    SELECT dist, n_nodes FROM unreached
    """,
)
def rel_bfs_layers_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BFS layer census from the co-purchase hub node
    (operators.graph.bfs_layers, 4 unrolled hops): how much of the
    graph is within k hops of the busiest part — the traversal
    primitive next to rel_graph_kcore's peel and rel_label_propagation's
    diffusion. The oracle replays the same walk as a recursive CTE with
    min-dist dedup."""
    edges = _copurchase_edges(spark, sf_dir).localCheckpoint(eager=True)
    return G.bfs_layers(edges, "pa", "pb", rounds=4)
