"""Rank-statistics / sketch / graph / retrieval-evaluation contract
entries (operators.rankstats, operators.agg.log_bucket_quantiles,
operators.graph k-core + HITS, ml.eval.ranking_metrics,
ext.text.rouge_n_recall_pairs, operators.timeseries.acf_lags).

Beyond-reference extensions (SURVEY.md §2.13): the reference's statistics
stop at Pearson/skewness moments (`notebook_to_py/data-viz&cleaning.py:141-196`), its graph surface at
nothing — this module adds the nonparametric-test family (Spearman,
Mann-Whitney, Kendall, permutation), the mergeable-quantile sketch, the
HITS/k-core graph tier, and the NDCG/MRR retrieval gate, each hash-oracle
checkable because every mechanism reduces to exact integer moments with
doubles only in the final closed form (design rules in
operators/rankstats.py's module docstring).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..ext import text as TX
from ..ml import eval as ME
from ..ml import nb as NB
from ..operators import agg as AG
from ..operators import graph as G
from ..operators import joins as J
from ..operators import partitioning as PT
from ..operators import rankstats as RS
from ..operators import timeseries as TS
from ..sources import load_table
from .evalqs import _EDGES_CTE, _copurchase_edges
from .queries import _multibatch_events_dir
from .registry import query
from ..streaming.events import run_stream, take_sink


@query(
    "rel_spearman_corr",
    oracle="""
    WITH base AS (
      SELECT l_returnflag AS g,
             CAST(round(l_quantity) AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
      FROM lineitem
    ),
    r AS (
      SELECT g,
             2 * rank() OVER (PARTITION BY g ORDER BY x)
               + count(*) OVER (PARTITION BY g, x) - 1 AS rx,
             2 * rank() OVER (PARTITION BY g ORDER BY y)
               + count(*) OVER (PARTITION BY g, y) - 1 AS ry
      FROM base
    ),
    m AS (
      SELECT g, count(*) AS n,
             CAST(sum(rx) AS DOUBLE) AS sx, CAST(sum(ry) AS DOUBLE) AS sy,
             CAST(sum(rx * ry) AS DOUBLE) AS sxy,
             CAST(sum(rx * rx) AS DOUBLE) AS sxx,
             CAST(sum(ry * ry) AS DOUBLE) AS syy
      FROM r GROUP BY 1
    )
    SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
           round((CAST(n AS DOUBLE) * sxy - sx * sy)
                 / sqrt((CAST(n AS DOUBLE) * sxx - sx * sx)
                        * (CAST(n AS DOUBLE) * syy - sy * sy)), 6) + 0.0
             AS rho
    FROM m
    """,
)
def rel_spearman_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation of quantity vs price per returnflag
    (operators.rankstats.spearman_corr): midrank ties via the doubled-
    average-rank trick keep every moment in exact bigints; the reference
    only ships Pearson (notebook_to_py/data-viz&cleaning.py:141-196 moments surface), and rank
    correlation is the robust companion a skewed-price table needs."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_returnflag",
        F.round(F.col("l_quantity")).cast("bigint").alias("x"),
        F.round(F.col("l_extendedprice") * 100).cast("bigint").alias("y"),
    )
    return RS.spearman_corr(li, "l_returnflag", "x", "y")


@query(
    "ts_mann_whitney",
    oracle="""
    WITH b AS (
      SELECT CAST(event_type = 'purchase' AS INTEGER) AS ia,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type IN ('purchase', 'click')
    ),
    r AS (
      SELECT ia,
             2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2
      FROM b
    ),
    tm AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT count(*) AS t FROM b GROUP BY v)
    ),
    m AS (
      SELECT CAST(sum(ia) AS BIGINT) AS n_a,
             CAST(sum(1 - ia) AS BIGINT) AS n_b,
             CAST(sum(ia * r2) AS BIGINT) AS r2a
      FROM r
    )
    SELECT n_a, n_b,
           round((CAST(r2a AS DOUBLE)
                  - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0,
                 1) AS u_a,
           round(((CAST(r2a AS DOUBLE)
                   - CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) + 1)) / 2.0
                  - CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 2.0)
                 / sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / 12.0
                        * ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE) + 1)
                           - CAST(tie3 AS DOUBLE)
                             / ((CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))
                                * (CAST(n_a AS DOUBLE)
                                   + CAST(n_b AS DOUBLE) - 1)))),
                 6) + 0.0 AS z
    FROM m CROSS JOIN tm
    """,
)
def ts_mann_whitney_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U comparing purchase vs click value distributions
    (operators.rankstats.mann_whitney_u): the nonparametric two-sample
    test with full midrank tie correction, end-to-end exact through the
    doubled rank sum and Σ(t³−t) tie moment — the oracle replays the
    test statistic bit-for-bit, not just the rank table."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return RS.mann_whitney_u(ev, "event_type", "cents", "purchase", "click")


@query(
    "ts_kendall_tau",
    oracle="""
    WITH h AS (
      SELECT event_type AS k,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
             CAST(count(*) AS BIGINT) AS x,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS y
      FROM events GROUP BY 1, 2
    ),
    p AS (
      SELECT a.k,
             count(*) AS n0,
             sum(CASE WHEN (b.x - a.x) * (b.y - a.y) > 0
                 THEN 1 ELSE 0 END) AS c,
             sum(CASE WHEN (b.x - a.x) * (b.y - a.y) < 0
                 THEN 1 ELSE 0 END) AS d,
             sum(CASE WHEN b.x = a.x THEN 1 ELSE 0 END) AS tx,
             sum(CASE WHEN b.y = a.y THEN 1 ELSE 0 END) AS ty
      FROM h a JOIN h b ON a.k = b.k AND a.t < b.t
      GROUP BY 1
    ),
    nn AS (SELECT k, count(*) AS n FROM h GROUP BY 1)
    SELECT p.k AS event_type, CAST(nn.n AS BIGINT) AS n,
           CAST(c AS BIGINT) AS concordant, CAST(d AS BIGINT) AS discordant,
           round(CAST(c - d AS DOUBLE)
                 / sqrt((CAST(n0 AS DOUBLE) - CAST(tx AS DOUBLE))
                        * (CAST(n0 AS DOUBLE) - CAST(ty AS DOUBLE))), 6)
             + 0.0 AS tau_b
    FROM p JOIN nn ON nn.k = p.k
    """,
)
def ts_kendall_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b between hourly event volume and hourly value per
    event type (operators.rankstats.kendall_tau_b): explicit pair
    enumeration over the POST-AGGREGATION hourly series (keys × hours,
    never raw events — the theil_sen precedent), concordant/discordant/
    tie counts all exact bigints."""
    ev = load_table(spark, sf_dir, "events")
    # keys x hours hub: kendall_tau_b's pair self-join consumes it on
    # both sides (plus the tie moments) — checkpoint so the corpus
    # groupBy shuffle runs once, not three times (r8 scan audit).
    hourly = (
        ev.groupBy(
            "event_type",
            F.floor(F.col("ts").cast("long") / 3600)
            .cast("bigint")
            .alias("h"),
        )
        .agg(
            F.count(F.lit(1)).alias("x"),
            F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("y"),
        )
        .localCheckpoint(eager=True)
    )
    return RS.kendall_tau_b(hourly, "event_type", "h", "x", "y").select(
        F.col("key").alias("event_type"), "n", "concordant", "discordant",
        "tau_b",
    )


@query(
    "ts_acf_lags",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
      FROM events
    ),
    cnt AS (SELECT event_type, h, count(*) AS x FROM ev GROUP BY 1, 2),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS h FROM span),
    keys AS (SELECT DISTINCT event_type FROM ev),
    dense AS (
      SELECT k.event_type, a.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM keys k CROSS JOIN axis a
      LEFT JOIN cnt c ON c.event_type = k.event_type AND c.h = a.h
    ),
    g AS (
      SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS qx
      FROM dense GROUP BY 1
    ),
    lags AS (SELECT CAST(unnest([1, 2, 3, 24]) AS BIGINT) AS lag),
    pr AS (
      SELECT d.event_type, l.lag,
             CAST(sum(d.x * d2.x) AS BIGINT) AS cl,
             CAST(sum(d.x) AS BIGINT) AS head,
             CAST(sum(d2.x) AS BIGINT) AS tail,
             count(*) AS npairs
      FROM dense d
      CROSS JOIN lags l
      JOIN dense d2 ON d2.event_type = d.event_type AND d2.h = d.h + l.lag
      GROUP BY 1, 2
    )
    SELECT p.event_type, p.lag, CAST(g.n AS BIGINT) AS n,
           round((CAST(cl AS DOUBLE)
                  - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * CAST(head + tail AS DOUBLE)
                  + CAST(npairs AS DOUBLE)
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                    * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                 / (CAST(qx AS DOUBLE)
                    - CAST(n AS DOUBLE)
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))), 6)
             + 0.0 AS r
    FROM pr p JOIN g ON g.event_type = p.event_type
    """,
)
def ts_acf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation of the hourly event-count series per type at lags
    1/2/3/24 (operators.timeseries.acf_lags) over the ZERO-FILLED dense
    hour axis — exact integer moments, one equi-join on (key, t+lag),
    no window sort. The lag-24 row reads the daily seasonality the
    seasonal_baseline/stl entries model from the other direction."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
    )
    # ONE corpus scan: the hourly count table is the hub — span and key
    # set both derive from it (every event contributes a count row, so
    # distinct keys and the h range are identical), and the checkpoint
    # cut stops acf_lags' three consumers (global moments + both lag-join
    # sides) from re-deriving events 3x each (the r8 scan audit found
    # this entry at NINE events scans).
    cnt = (
        ev.groupBy("event_type", "h")
        .agg(F.count(F.lit(1)).alias("x"))
        .localCheckpoint(eager=True)
    )
    span = cnt.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    axis = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
    )
    keys = cnt.select("event_type").distinct()
    dense = (
        keys.crossJoin(F.broadcast(axis))
        .join(cnt, ["event_type", "h"], "left")
        .fillna(0, subset=["x"])
    )
    return TS.acf_lags(dense, "event_type", "h", "x", (1, 2, 3, 24))


@query(
    "ml_ndcg_mrr",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS q, o_orderkey AS id,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 4 AS INTEGER)
               AS rel,
             round((CAST('0x' || substr(md5('ndcg:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0, 9) AS score
      FROM orders
    ),
    r AS (
      SELECT q, rel, power(2.0, CAST(rel AS DOUBLE)) - 1.0 AS g,
             row_number() OVER (PARTITION BY q ORDER BY score DESC, id ASC)
               AS rs,
             row_number() OVER (PARTITION BY q ORDER BY rel DESC, id ASC)
               AS ri
      FROM s
    )
    SELECT q AS query_group, CAST(count(*) AS BIGINT) AS n_results,
           round(sum(CASE WHEN rs <= 10
                          THEN g / log2(CAST(rs AS DOUBLE) + 1.0)
                          ELSE 0.0 END)
                 / sum(CASE WHEN ri <= 10
                            THEN g / log2(CAST(ri AS DOUBLE) + 1.0)
                            ELSE 0.0 END), 6) AS ndcg_at_k,
           round(1.0 / min(CASE WHEN rel >= 2 THEN rs END), 6) AS mrr
    FROM r GROUP BY 1
    """,
)
def ml_ndcg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@10 + MRR per priority "query" (ml.eval.ranking_metrics) over
    a graded-relevance synthesis (rel = price cents mod 4, score = the
    md5-uniform idiom — a random ranking, so NDCG lands strictly inside
    (0,1) and exercises the ideal-ranking normalization for real). The
    retrieval-evaluation gate for the BM25/ANN stack."""
    o = load_table(spark, sf_dir, "orders")
    h = F.substring(
        F.md5(F.concat(F.lit("ndcg:"), F.col("o_orderkey").cast("string"))),
        1, 8,
    )
    unif = (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)
    scored = o.select(
        F.col("o_orderpriority").alias("qg"),
        F.col("o_orderkey").alias("id"),
        (F.round(F.col("o_totalprice") * 100).cast("bigint") % 4)
        .cast("int")
        .alias("rel"),
        F.round(unif, 9).alias("score"),
    )
    return ME.ranking_metrics(scored, "qg", "id", "rel", "score", k=10).select(
        F.col("query").alias("query_group"), "n_results", "ndcg_at_k", "mrr"
    )


@query(
    "rel_ddsketch_quantiles",
    oracle="""
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    kb AS (
      SELECT grp, v,
             CAST(length(printf('%b', v)) - 1 AS BIGINT) AS k
      FROM v
    ),
    kb2 AS (
      SELECT grp,
             k * 4 + CAST(floor(((v - p2) * 4) / p2) AS BIGINT) AS bucket
      FROM (SELECT grp, v, k,
                   CAST(power(2.0, CAST(k AS DOUBLE)) AS BIGINT) AS p2
            FROM kb)
    ),
    cnts AS (SELECT grp, bucket, count(*) AS c FROM kb2 GROUP BY 1, 2),
    cum AS (
      SELECT grp, bucket,
             sum(c) OVER (PARTITION BY grp ORDER BY bucket
                          ROWS UNBOUNDED PRECEDING) AS cum,
             sum(c) OVER (PARTITION BY grp) AS n
      FROM cnts
    ),
    qax AS (SELECT unnest([CAST(0.5 AS DOUBLE), CAST(0.9 AS DOUBLE),
                           CAST(0.99 AS DOUBLE)]) AS q),
    hits AS (
      SELECT grp, q, min(bucket) AS bucket, max(n) AS n
      FROM cum CROSS JOIN qax
      WHERE cum >= ceil(q * CAST(n AS DOUBLE))
      GROUP BY 1, 2
    )
    SELECT grp AS priority, q, CAST(n AS BIGINT) AS n,
           CAST(bucket AS BIGINT) AS bucket,
           round(power(2.0, CAST(bucket // 4 AS DOUBLE))
                 * (1.0 + (CAST(bucket % 4 AS DOUBLE) + 0.5) / 4.0)
                 / 100.0, 4) AS est_value
    FROM hits
    """,
)
def rel_ddsketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DDSketch-style mergeable quantiles of order value per priority
    (operators.agg.log_bucket_quantiles): log2 buckets from the
    bit-length string trick (no floating log, so bucket edges cannot
    drift by an engine ulp) with 4 linear sub-cells (~9% relative
    error); the per-group bucket table is the whole sketch — map-side
    combinable and mergeable by addition, the quantile answer a
    cumulative-count readout. Completes the sketch family next to
    KMV/CMS/HLL."""
    o = load_table(spark, sf_dir, "orders")
    out = AG.log_bucket_quantiles(
        o,
        "o_orderpriority",
        F.round(F.col("o_totalprice") * 100).cast("bigint"),
        (0.5, 0.9, 0.99),
    )
    return out.select(
        F.col("group").alias("priority"), "q", "n", "bucket", "est_value"
    )


def _kcore_oracle(k: int, rounds: int) -> str:
    """Generate the unrolled peel SQL so the oracle is structurally
    guaranteed to run the same fixed rounds as the Spark plan. Every
    sym{r}/keep{r} is MATERIALIZED: DuckDB 1.0 inlines CTEs, and each
    round references the previous one three times — inlined, the chain
    re-evaluates exponentially (~3^rounds; measured 36s at sf0.01 for
    5 rounds, <1s materialized)."""
    parts = [f"WITH {_EDGES_CTE},"]
    parts.append(
        "sym0 AS MATERIALIZED"
        " (SELECT a, b FROM e UNION ALL SELECT b AS a, a AS b FROM e)"
    )
    for r in range(1, rounds + 1):
        parts.append(
            f", keep{r} AS MATERIALIZED (SELECT a FROM sym{r-1} GROUP BY a"
            f" HAVING count(*) >= {k})"
        )
        parts.append(
            f", sym{r} AS MATERIALIZED (SELECT s.a, s.b FROM sym{r-1} s"
            f" JOIN keep{r} ka ON ka.a = s.a"
            f" JOIN keep{r} kb ON kb.a = s.b)"
        )
    selects = [
        f"SELECT CAST({r} AS INTEGER) AS round,"
        f" CAST(count(DISTINCT a) AS BIGINT) AS n_nodes,"
        f" CAST(count(*) // 2 AS BIGINT) AS n_edges FROM sym{r}"
        for r in range(1, rounds + 1)
    ]
    return "\n".join(parts) + "\n" + "\nUNION ALL\n".join(selects)


@query("rel_graph_kcore", oracle=_kcore_oracle(k=2, rounds=5))
def rel_kcore_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core (k=2) peeling trajectory of the repeat co-purchase graph
    (operators.graph.kcore_peel_trajectory): 5 unrolled peel rounds,
    per-round (nodes, edges) census in exact ints — convergence is
    VISIBLE in the output (two equal consecutive rows = the 2-core)
    rather than asserted. The oracle SQL is generated by the same
    round-count parameter, so the two engines cannot silently disagree
    on depth."""
    return G.kcore_peel_trajectory(
        _copurchase_edges(spark, sf_dir), "pa", "pb", k=2, rounds=5
    )


@query(
    "ts_hits_scores",
    oracle="""
    WITH e AS (
      SELECT DISTINCT l_partkey AS u, l_suppkey AS v FROM lineitem
    ),
    a1r AS (SELECT v, CAST(count(*) AS DOUBLE) AS a FROM e GROUP BY v),
    a1m AS (SELECT sum(a) AS m FROM a1r),
    a1 AS (SELECT v AS node, a / m AS a FROM a1r CROSS JOIN a1m),
    h1r AS (
      SELECT e.u, sum(a1.a) AS h FROM e JOIN a1 ON a1.node = e.v GROUP BY e.u
    ),
    h1m AS (SELECT sum(h) AS m FROM h1r),
    h1 AS (SELECT u AS node, h / m AS h FROM h1r CROSS JOIN h1m),
    a2r AS (
      SELECT e.v, sum(h1.h) AS a FROM e JOIN h1 ON h1.node = e.u GROUP BY e.v
    ),
    a2m AS (SELECT sum(a) AS m FROM a2r),
    a2 AS (SELECT v AS node, a / m AS a FROM a2r CROSS JOIN a2m)
    SELECT CAST(row_number() OVER (ORDER BY authority DESC, node ASC)
                AS INTEGER) AS rank,
           node, authority
    FROM (SELECT node, round(a, 8) AS authority FROM a2)
    QUALIFY rank <= 20
    """,
)
def ts_hits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS authorities on the part→supplier bipartite graph
    (operators.graph.hits_unrolled, 2 iterations): suppliers score by
    the hub mass of the parts they serve — the link-analysis companion
    to pagerank on a graph where direction matters. Top-20 by (rounded
    authority DESC, node ASC)."""
    li = load_table(spark, sf_dir, "lineitem")
    edges = li.select("l_partkey", "l_suppkey").distinct()
    return G.hits_unrolled(edges, "l_partkey", "l_suppkey", iterations=2)


@query(
    "ext_rouge_recall",
    oracle="""
    WITH pairs AS (
      SELECT doc_id AS ref_id,
             lead(doc_id) OVER (PARTITION BY source ORDER BY doc_id)
               AS cand_id
      FROM documents
    ),
    w AS (
      SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ws
      FROM documents
    ),
    g AS (
      SELECT DISTINCT doc_id AS doc, p[1] || ' ' || p[2] AS gram
      FROM (SELECT doc_id,
                   unnest(list_zip(ws[1:len(ws)-1], ws[2:len(ws)])) AS p
            FROM w)
    ),
    pg AS (
      SELECT p.ref_id, p.cand_id, g.gram
      FROM pairs p JOIN g ON g.doc = p.ref_id
      WHERE p.cand_id IS NOT NULL
    ),
    tot AS (
      SELECT ref_id, cand_id, count(*) AS n_ref_grams FROM pg GROUP BY 1, 2
    ),
    hit AS (
      SELECT pg.ref_id, pg.cand_id, count(*) AS n_overlap
      FROM pg
      WHERE EXISTS (SELECT 1 FROM g g2
                    WHERE g2.doc = pg.cand_id AND g2.gram = pg.gram)
      GROUP BY 1, 2
    )
    SELECT t.ref_id, t.cand_id,
           CAST(t.n_ref_grams AS BIGINT) AS n_ref_grams,
           CAST(COALESCE(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(CAST(COALESCE(h.n_overlap, 0) AS DOUBLE)
                 / CAST(t.n_ref_grams AS DOUBLE), 6) AS rouge_recall
    FROM tot t
    LEFT JOIN hit h ON h.ref_id = t.ref_id AND h.cand_id = t.cand_id
    """,
)
def ext_rouge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-2 recall between each document and its successor within the
    same source (ext.text.rouge_n_recall_pairs): distinct-bigram overlap
    over hashed gram keys — the summarization-evaluation head reusing
    the dedup stack's gram machinery. The oracle intersects raw gram
    strings; the Spark side's xxhash64 keys change only the shuffle
    width, not the count (collisions ~2^-64, documented)."""
    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("doc_id")
    paired = docs.withColumn("cand_id", F.lead("doc_id").over(w))
    return TX.rouge_n_recall_pairs(paired, "doc_id", "text", "cand_id", n=2)


@query(
    "ts_permutation_test",
    oracle="""
    WITH u AS (
      SELECT CAST(user_id AS VARCHAR) AS unit,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
             CAST(user_id % 2 AS INTEGER) AS g
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    obs AS (
      SELECT CAST(sum(g * v) AS DOUBLE) / CAST(sum(g) AS DOUBLE)
             - CAST(sum((1 - g) * v) AS DOUBLE)
               / CAST(sum(1 - g) AS DOUBLE) AS t_obs,
             CAST(count(*) AS BIGINT) AS n_units
      FROM u
    ),
    b AS (SELECT unnest(generate_series(0, 199)) AS b),
    reps AS (
      SELECT b,
             CAST(sum(CASE WHEN pu < 0.5 THEN v ELSE 0 END) AS DOUBLE)
               / CAST(sum(CASE WHEN pu < 0.5 THEN 1 ELSE 0 END) AS DOUBLE)
             - CAST(sum(CASE WHEN pu < 0.5 THEN 0 ELSE v END) AS DOUBLE)
               / CAST(sum(CASE WHEN pu < 0.5 THEN 0 ELSE 1 END) AS DOUBLE)
               AS t
      FROM (SELECT u.v, b.b,
                   (CAST('0x' || substr(md5('perm:' || CAST(b.b AS VARCHAR)
                      || ':' || u.unit), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0 AS pu
            FROM u CROSS JOIN b) s
      GROUP BY b
    ),
    cnt AS (
      SELECT CAST(sum(CASE WHEN abs(r.t) >= abs(o.t_obs)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_extreme
      FROM reps r CROSS JOIN obs o
    )
    SELECT o.n_units,
           round(o.t_obs / CAST(100.0 AS DOUBLE), 6) + 0.0 AS t_obs,
           round((CAST(c.n_extreme AS DOUBLE) + CAST(1.0 AS DOUBLE))
                 / CAST(201.0 AS DOUBLE), 6) AS p_value
    FROM obs o CROSS JOIN cnt c
    """,
)
def ts_permutation_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-level permutation test of mean purchase spend between the
    user_id-parity variants (operators.rankstats.permutation_test_means,
    B=200 md5-seeded reassignments): the exact-replay alternative to the
    normal-approximation tests (two_proportion/ab_cuped) — both engines
    rebuild all 200 permuted statistics bit-for-bit from integer cents.
    The per-UNIT input table is what keeps the replicate axis at
    B × |users|, not B × |events|."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    units = ev.groupBy("user_id").agg(
        F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("cents")
    ).select(
        "user_id",
        "cents",
        (F.col("user_id") % 2).cast("int").alias("g"),
    )
    return RS.permutation_test_means(
        units, "user_id", "cents", "g", n_permutations=200, scale=100.0
    )


@query(
    "rel_kruskal_wallis",
    oracle="""
    WITH b AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v
      FROM orders
    ),
    r AS (
      SELECT g,
             2 * rank() OVER (ORDER BY v)
               + count(*) OVER (PARTITION BY v) - 1 AS r2
      FROM b
    ),
    pg AS (
      SELECT g, count(*) AS n_j, CAST(sum(r2) AS BIGINT) AS r2_j
      FROM r GROUP BY g
    ),
    tm AS (
      SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3
      FROM (SELECT count(*) AS t FROM b GROUP BY v)
    ),
    m AS (
      SELECT CAST(sum(n_j) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS k,
             sum((CAST(r2_j AS DOUBLE) / 2.0) * (CAST(r2_j AS DOUBLE) / 2.0)
                 / CAST(n_j AS DOUBLE)) AS srq
      FROM pg
    )
    SELECT n, k,
           round(12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * srq
                 - 3.0 * (CAST(n AS DOUBLE) + 1.0), 6) + 0.0 AS h,
           round((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * srq
                  - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                 / (1.0 - CAST(tie3 AS DOUBLE)
                    / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                       * CAST(n AS DOUBLE) - CAST(n AS DOUBLE))),
                 6) + 0.0 AS h_tie_corrected,
           round(((12.0 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 1.0)) * srq
                   - 3.0 * (CAST(n AS DOUBLE) + 1.0))
                  / (1.0 - CAST(tie3 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                        * CAST(n AS DOUBLE) - CAST(n AS DOUBLE)))
                  - CAST(k AS DOUBLE) + 1.0)
                 / (CAST(n AS DOUBLE) - CAST(k AS DOUBLE)), 6) + 0.0
             AS epsilon_sq
    FROM m CROSS JOIN tm
    """,
)
def rel_kruskal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal-Wallis H across the five order priorities on total-price
    cents (operators.rankstats.kruskal_wallis): the k-sample extension of
    ts_mann_whitney — one global midrank, per-group bigint rank sums, tie
    moment, then the tie-corrected H and epsilon-squared effect size in
    one fixed double closed form. The reference's EDA has no
    nonparametric location test at all (notebook_to_py/data-viz&cleaning.py stops at skewness/moments)."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
    )
    return RS.kruskal_wallis(o, "g", "v")


@query(
    "ts_jarque_bera",
    oracle="""
    WITH m AS (
      SELECT event_type AS g, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2,
             CAST(sum(v * v * v) AS BIGINT) AS s3,
             CAST(sum(v * v * v * v) AS BIGINT) AS s4
      FROM (SELECT event_type, CAST(round(value) AS BIGINT) AS v
            FROM events)
      GROUP BY 1
    ),
    d AS (
      SELECT g, CAST(n AS BIGINT) AS n, CAST(n AS DOUBLE) AS nd,
             CAST(s1 AS DOUBLE) AS s1, CAST(s2 AS DOUBLE) AS s2,
             CAST(s3 AS DOUBLE) AS s3, CAST(s4 AS DOUBLE) AS s4
      FROM m
    ),
    c AS (
      SELECT g, n, nd,
             s2 / nd - (s1 / nd) * (s1 / nd) AS m2,
             s3 / nd - 3.0 * (s1 / nd) * (s2 / nd)
               + 2.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m3,
             s4 / nd - 4.0 * (s1 / nd) * (s3 / nd)
               + 6.0 * (s1 / nd) * (s1 / nd) * (s2 / nd)
               - 3.0 * (s1 / nd) * (s1 / nd) * (s1 / nd) * (s1 / nd) AS m4
      FROM d
    )
    SELECT g AS event_type, n,
           round(m3 / sqrt(m2 * m2 * m2), 6) + 0.0 AS skewness,
           round(m4 / (m2 * m2) - 3.0, 6) + 0.0 AS kurtosis_excess,
           round(nd / 6.0 * ((m3 / sqrt(m2 * m2 * m2))
                             * (m3 / sqrt(m2 * m2 * m2))
                             + (m4 / (m2 * m2) - 3.0)
                               * (m4 / (m2 * m2) - 3.0) / 4.0),
                 6) + 0.0 AS jb
    FROM c
    """,
)
def ts_jarque_bera_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jarque-Bera normality per event type on whole-dollar values
    (operators.rankstats.jarque_bera): raw moments Σv..Σv⁴ stay exact
    bigints (dollars ≤ ~500 ⇒ v⁴·n < 2^57 even at sf10), central moments
    and the JB statistic are ONE fixed double expression over them —
    the same exact-moments-then-closed-form discipline as ml_roc_auc.
    Complements ref_skewness_transforms (which ships Spark's built-in
    skewness on raw doubles, rows-only comparable) with a
    hash-certifiable skew/kurtosis/normality gate."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.round(F.col("value")).cast("bigint").alias("v")
    )
    return RS.jarque_bera(ev, "event_type", "v")


@query(
    "rel_bloom_join_prune",
    oracle="""
    WITH bk AS (
      SELECT DISTINCT CAST(o_custkey AS VARCHAR) AS k
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    pk AS (SELECT DISTINCT CAST(c_custkey AS VARCHAR) AS k FROM customer),
    hx AS (SELECT unnest([0, 1, 2, 3]) AS i),
    bpos AS (
      SELECT DISTINCT
             (CAST('0x' || substr(md5('bloom:' || CAST(i AS VARCHAR)
                                      || ':' || k), 1, 8) AS BIGINT)
              % 8192) AS pos
      FROM bk CROSS JOIN hx
    ),
    ppos AS (
      SELECT DISTINCT k,
             (CAST('0x' || substr(md5('bloom:' || CAST(i AS VARCHAR)
                                      || ':' || k), 1, 8) AS BIGINT)
              % 8192) AS pos
      FROM pk CROSS JOIN hx
    ),
    per AS (
      SELECT p.k, count(*) AS n_pos,
             sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
      FROM ppos p LEFT JOIN bpos b ON b.pos = p.pos
      GROUP BY 1
    ),
    fl AS (
      SELECT CASE WHEN n_pos = n_hit THEN 1 ELSE 0 END AS passes,
             CASE WHEN bk.k IS NOT NULL THEN 1 ELSE 0 END AS member
      FROM per LEFT JOIN bk ON bk.k = per.k
    )
    SELECT CAST(8192 AS BIGINT) AS m_bits,
           CAST(4 AS BIGINT) AS k_hashes,
           (SELECT CAST(count(*) AS BIGINT) FROM bk) AS n_build_keys,
           CAST(count(*) AS BIGINT) AS n_probe_keys,
           CAST(sum(passes) AS BIGINT) AS n_pass,
           CAST(sum(passes * (1 - member)) AS BIGINT) AS n_false_pos,
           round(CAST(sum(passes * (1 - member)) AS DOUBLE)
                 / greatest(CAST(count(*) - sum(member) AS DOUBLE), 1.0),
                 6) AS fp_rate
    FROM fl
    """,
)
def rel_bloom_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter join pruning audit (operators.joins.bloom_filter_audit):
    build an 8192-bit / 4-hash md5 Bloom set over urgent-order customer
    keys, probe the full customer dimension, and report exact pass /
    false-positive counts — the declarative model of Spark's own runtime
    bloom filter pushdown (spark.sql.optimizer.runtime.bloomFilter), made
    hash-certifiable because positions are md5-derived in both engines.
    The bit table is ≤ m_bits rows and broadcast; at 100 TB this is the
    shape that prunes a fact-scan shuffle before it happens."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select(F.col("o_custkey").alias("key"))
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key")
    )
    return J.bloom_filter_audit(orders, cust, "key", m_bits=8192, k_hashes=4)


_NB_TERM = """((coalesce(CAST({t}.c1 AS DOUBLE), 0.0) + 1.0)
                  / (CAST(cls.n1 AS DOUBLE) + 1.0 * CAST({v}.v AS DOUBLE)))"""
_NB_TERM0 = """((coalesce(CAST({t}.c0 AS DOUBLE), 0.0) + 1.0)
                  / (CAST(cls.n0 AS DOUBLE) + 1.0 * CAST({v}.v AS DOUBLE)))"""


_NB_SCORED_CTES = f"""base AS (
      SELECT CAST((CAST('0x' || substr(md5('nblabel:'
                || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                / 4294967296.0
              < CASE substr(o_orderpriority, 1, 1)
                  WHEN '1' THEN 0.85 WHEN '2' THEN 0.65 WHEN '3' THEN 0.5
                  WHEN '4' THEN 0.35 ELSE 0.15 END AS INTEGER) AS y,
             o_orderpriority AS f1,
             CAST(month(o_orderdate) AS VARCHAR) AS f2,
             CAST(CAST(floor(o_totalprice / 50000.0) AS BIGINT) AS VARCHAR)
               AS f3,
             (CAST('0x' || substr(md5('nbsplit:'
                || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS u
      FROM orders
    ),
    tr AS (SELECT y, f1, f2, f3 FROM base WHERE u < 0.8),
    te AS (SELECT y, f1, f2, f3 FROM base WHERE NOT (u < 0.8)),
    cls AS (
      SELECT count(*) AS n_all, CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0
      FROM tr
    ),
    t1 AS (SELECT f1, CAST(sum(y) AS BIGINT) AS c1,
                  CAST(sum(1 - y) AS BIGINT) AS c0 FROM tr GROUP BY 1),
    v1 AS (SELECT count(*) AS v FROM t1),
    t2 AS (SELECT f2, CAST(sum(y) AS BIGINT) AS c1,
                  CAST(sum(1 - y) AS BIGINT) AS c0 FROM tr GROUP BY 1),
    v2 AS (SELECT count(*) AS v FROM t2),
    t3 AS (SELECT f3, CAST(sum(y) AS BIGINT) AS c1,
                  CAST(sum(1 - y) AS BIGINT) AS c0 FROM tr GROUP BY 1),
    v3 AS (SELECT count(*) AS v FROM t3),
    scored AS (
      SELECT te.y,
             CASE WHEN
               (CAST(cls.n1 AS DOUBLE) / CAST(cls.n_all AS DOUBLE))
               * {_NB_TERM.format(t='t1', v='v1')}
               * {_NB_TERM.format(t='t2', v='v2')}
               * {_NB_TERM.format(t='t3', v='v3')}
               >
               (CAST(cls.n0 AS DOUBLE) / CAST(cls.n_all AS DOUBLE))
               * {_NB_TERM0.format(t='t1', v='v1')}
               * {_NB_TERM0.format(t='t2', v='v2')}
               * {_NB_TERM0.format(t='t3', v='v3')}
             THEN 1 ELSE 0 END AS predicted
      FROM te
      CROSS JOIN cls
      LEFT JOIN t1 ON t1.f1 = te.f1
      CROSS JOIN v1
      LEFT JOIN t2 ON t2.f2 = te.f2
      CROSS JOIN v2
      LEFT JOIN t3 ON t3.f3 = te.f3
      CROSS JOIN v3
    )
"""


def _nb_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planted-label NB synthesis table (y, f1, f2, f3, u) — shared by
    the ml_naive_bayes / ml_nb_metrics / ml_gini_feature_rank family."""
    u_lbl = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("nblabel"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    rate = (
        F.when(F.substring("o_orderpriority", 1, 1) == "1", F.lit(0.85))
        .when(F.substring("o_orderpriority", 1, 1) == "2", F.lit(0.65))
        .when(F.substring("o_orderpriority", 1, 1) == "3", F.lit(0.5))
        .when(F.substring("o_orderpriority", 1, 1) == "4", F.lit(0.35))
        .otherwise(F.lit(0.15))
    )
    base = load_table(spark, sf_dir, "orders").select(
        (u_lbl < rate).cast("int").alias("y"),
        F.col("o_orderpriority").alias("f1"),
        F.month("o_orderdate").cast("string").alias("f2"),
        F.floor(F.col("o_totalprice") / 50000.0)
        .cast("bigint")
        .cast("string")
        .alias("f3"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":",
                                F.lit("nbsplit"),
                                F.col("o_orderkey").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                + 0.5
            )
            / 4294967296.0
        ).alias("u"),
    )
    # base feeds the split plus one count table PER feature (8 orders
    # scans measured); materialize once.
    return base.localCheckpoint(eager=True)


@query(
    "ml_naive_bayes",
    oracle=f"""
    WITH {_NB_SCORED_CTES}
    SELECT y AS actual, predicted, CAST(count(*) AS BIGINT) AS n
    FROM scored GROUP BY 1, 2
    """,
)
def ml_naive_bayes_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Categorical Naive Bayes on a PLANTED signal — the label is an
    md5-uniform draw whose rate depends on order priority (0.85 urgent →
    0.15 low, the evalqs label-synthesis idiom) so the classifier has a
    real learnable feature and the confusion matrix populates all four
    cells — with order month and price bucket as the uninformative
    companions; md5-deterministic 80/20 split, confusion-matrix output
    (ml.nb.naive_bayes_confusion). Every
    prediction hash-certifies because the class scores are fixed-order
    IEEE products of count ratios — no logarithm, no MLlib RNG — the
    module docstring explains why that beats log-space for cross-engine
    parity. The reference's classification story is regressors-only
    (4-ML.ipynb); this is the count-based classifier a data-quality
    triage pipeline can run inside the warehouse."""
    base = _nb_base(spark, sf_dir)
    train = base.filter(F.col("u") < 0.8)
    test = base.filter(~(F.col("u") < 0.8))
    return NB.naive_bayes_confusion(train, test, "y", ["f1", "f2", "f3"])


@query(
    "ts_periodogram",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 1000000 // 3600 AS h, count(*) AS c
      FROM events GROUP BY 1
    ),
    span AS (
      SELECT min(h) AS h0, max(h) - min(h) + 1 AS n FROM hourly
    ),
    ks AS (SELECT unnest(range(1, 13)) AS k),
    g AS (
      SELECT CAST(k AS INTEGER) AS k, n,
             6.283185307179586 * CAST(k AS DOUBLE)
               * CAST(h - h0 AS DOUBLE) / CAST(n AS DOUBLE) AS arg,
             CAST(c AS DOUBLE) AS c
      FROM hourly CROSS JOIN span CROSS JOIN ks
    ),
    s AS (
      SELECT k, n,
             CAST(sum(CAST(round(c * cos(arg) * 1000000.0) AS BIGINT))
                  AS BIGINT) AS sc,
             CAST(sum(CAST(round(c * sin(arg) * 1000000.0) AS BIGINT))
                  AS BIGINT) AS ss
      FROM g GROUP BY 1, 2
    )
    SELECT k, CAST(n AS BIGINT) AS n_hours,
           round((CAST(sc AS DOUBLE) / 1000000.0
                  * (CAST(sc AS DOUBLE) / 1000000.0)
                  + CAST(ss AS DOUBLE) / 1000000.0
                    * (CAST(ss AS DOUBLE) / 1000000.0))
                 / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)), 6) AS power
    FROM s ORDER BY k
    """,
)
def ts_periodogram_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Periodogram of the hourly event-count series at the first 12
    Fourier frequencies (operators.timeseries.periodogram_hourly):
    integer-rounded DFT terms make the distributed Σ exact, so spectral
    power hash-certifies — the frequency-domain complement of
    ts_acf_lags / ts_stl_strength for detecting the daily cycle in event
    arrivals. Post-aggregation input (hours × 12), one data-sized
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    return TS.periodogram_hourly(ev, "ts", k_max=12)


_RCORR_DEN = """((CAST(n AS DOUBLE) * CAST(saa AS DOUBLE)
                   - CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE))
                  * (CAST(n AS DOUBLE) * CAST(sbb AS DOUBLE)
                     - CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE)))"""


@query(
    "ts_rolling_corr",
    oracle=f"""
    WITH hourly AS (
      SELECT epoch_us(ts) // 1000000 // 3600 AS h,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS a,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS b
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT h,
             count(*) OVER w AS n,
             CAST(sum(a) OVER w AS BIGINT) AS sa,
             CAST(sum(b) OVER w AS BIGINT) AS sb,
             CAST(sum(a * b) OVER w AS BIGINT) AS sab,
             CAST(sum(a * a) OVER w AS BIGINT) AS saa,
             CAST(sum(b * b) OVER w AS BIGINT) AS sbb
      FROM hourly
      WINDOW w AS (ORDER BY h RANGE BETWEEN 23 PRECEDING AND CURRENT ROW)
    )
    SELECT h, CAST(n AS BIGINT) AS n,
           CASE WHEN {_RCORR_DEN} <= 0 THEN NULL
                ELSE round((CAST(n AS DOUBLE) * CAST(sab AS DOUBLE)
                            - CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))
                           / sqrt({_RCORR_DEN}), 6) + 0.0
           END AS r
    FROM s WHERE n = 24
    """,
)
def ts_rolling_corr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """24-hour trailing Pearson correlation between the hourly purchase
    and click count series (operators.timeseries.rolling_corr_hourly):
    RANGE-frame window sums over exact bigint moments, NULL on constant
    windows — the pairwise-series companion to ts_lead_lag_xcorr (which
    scans fixed lags at full length) for drift monitoring."""
    ev = load_table(spark, sf_dir, "events")
    return TS.rolling_corr_hourly(ev, "ts", "event_type", "purchase", "click")


@query(
    "ml_map_at_k",
    oracle="""
    WITH s AS (
      SELECT o_orderpriority AS q, o_orderkey AS id,
             CAST(CAST(round(o_totalprice * 100) AS BIGINT) % 4 >= 2
                  AS INTEGER) AS rel,
             round((CAST('0x' || substr(md5('ndcg:' ||
                    CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                   / 4294967296.0, 9) AS score
      FROM orders
    ),
    r AS (
      SELECT q, rel,
             row_number() OVER (PARTITION BY q ORDER BY score DESC, id ASC)
               AS rs,
             sum(rel) OVER (PARTITION BY q ORDER BY score DESC, id ASC
                            ROWS UNBOUNDED PRECEDING) AS cum
      FROM s
    )
    SELECT q AS query_group,
           CAST(sum(rel) AS BIGINT) AS n_rel,
           round(CAST(sum(CASE WHEN rs <= 10 AND rel = 1 THEN 1 ELSE 0 END)
                      AS DOUBLE) / 10.0, 6) AS precision_at_k,
           round(sum(CASE WHEN rs <= 10 AND rel = 1
                          THEN CAST(cum AS DOUBLE) / CAST(rs AS DOUBLE)
                          ELSE 0.0 END)
                 / CAST(least(sum(rel), 10) AS DOUBLE), 6) AS ap_at_k
    FROM r GROUP BY 1
    """,
)
def ml_map_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision@10 + MAP@10 per priority "query"
    (ml.eval.average_precision_at_k) on the same md5-random-ranking
    synthesis as ml_ndcg_mrr with binarized relevance (cents mod 4 ≥ 2)
    — the binary-relevance retrieval gate (dedup/eval pipelines report
    MAP; NDCG needs grades). Certifies the cumulative-precision window
    machinery."""
    o = load_table(spark, sf_dir, "orders")
    h = F.substring(
        F.md5(F.concat(F.lit("ndcg:"), F.col("o_orderkey").cast("string"))),
        1, 8,
    )
    unif = (F.conv(h, 16, 10).cast("long") + 0.5) / F.lit(4294967296.0)
    scored = o.select(
        F.col("o_orderpriority").alias("qg"),
        F.col("o_orderkey").alias("id"),
        ((F.round(F.col("o_totalprice") * 100).cast("bigint") % 4) >= 2)
        .cast("int")
        .alias("rel"),
        F.round(unif, 9).alias("score"),
    )
    return ME.average_precision_at_k(
        scored, "qg", "id", "rel", "score", k=10
    ).select(
        F.col("query").alias("query_group"), "n_rel", "precision_at_k", "ap_at_k"
    )


@query(
    "ext_flesch_readability",
    oracle="""
    WITH base AS (
      SELECT source AS g,
             CAST(len(regexp_extract_all(text, '[A-Za-z]+')) AS BIGINT) AS w,
             CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                  AS BIGINT) AS s,
             CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
                  AS BIGINT) AS y
      FROM documents
    ),
    f AS (SELECT * FROM base WHERE w > 0),
    agg AS (
      SELECT g, count(*) AS n_docs,
             CAST(sum(w) AS BIGINT) AS words,
             CAST(sum(s) AS BIGINT) AS sentences,
             CAST(sum(y) AS BIGINT) AS syllables,
             CAST(sum(CASE WHEN 206.835
                            - 1.015 * (CAST(w AS DOUBLE) / CAST(s AS DOUBLE))
                            - 84.6 * (CAST(y AS DOUBLE) / CAST(w AS DOUBLE))
                           >= 60.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_easy
      FROM f GROUP BY 1
    )
    SELECT g AS source, CAST(n_docs AS BIGINT) AS n_docs,
           words, sentences, syllables,
           round(206.835
                 - 1.015 * (CAST(words AS DOUBLE)
                            / CAST(sentences AS DOUBLE))
                 - 84.6 * (CAST(syllables AS DOUBLE)
                           / CAST(words AS DOUBLE)), 6) + 0.0
             AS flesch_corpus,
           n_easy
    FROM agg
    """,
)
def ext_flesch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document source
    (ext.text.flesch_reading_ease): regex word/sentence/vowel-group
    counts summed exactly per source, corpus-level FRE from the summed
    counts in one fixed double expression, plus the per-doc ≥60
    ('plain English') band count — the readability axis the quality
    stack (gopher/c4/token-stats) didn't yet cover."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.flesch_reading_ease(docs, "text", "source")


@query(
    "ts_stream_topk",
    oracle="""
    WITH t AS (
      SELECT user_id,
             CAST(count(*) AS BIGINT) AS n_purchases,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS spend_cents
      FROM events WHERE event_type = 'purchase'
      GROUP BY 1
    )
    SELECT user_id, n_purchases, spend_cents
    FROM t
    ORDER BY spend_cents DESC, user_id ASC
    LIMIT 20
    """,
)
def ts_stream_topk_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING leaderboard: per-user purchase-spend totals accumulated
    as a stateful running aggregate across THREE genuine micro-batches
    (events re-laid-out range-split by ts, maxFilesPerTrigger=1 — the
    ts_stream_multibatch discipline), complete-mode memory sink, then
    top-20 spenders off the final state table
    (streaming.events.user_spend_totals). Integer-cent state makes the
    cross-batch accumulation exact, so the streaming result hash-equals
    the one-shot batch GROUP BY oracle — batch/stream parity for the
    running-total shape that powers live dashboards."""
    from ..streaming.events import read_event_stream, user_spend_totals

    src = _multibatch_events_dir(spark, sf_dir)
    sink = "ts_stream_topk_sink"
    totals = user_spend_totals(
        read_event_stream(spark, src, glob="*.parquet", max_files_per_trigger=1)
    )
    q = run_stream(totals, sink, output_mode="complete")
    w = Window.orderBy(F.col("spend_cents").desc(), F.col("user_id").asc())
    return (
        take_sink(spark, sink)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= 20)
        .select("user_id", "n_purchases", "spend_cents")
    )


@query(
    "ext_video_shot_cuts",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id, text,
             octet_length(encode(text)) * 10 AS duration_ms
      FROM documents
    ),
    sched AS (
      SELECT media_id, text,
             unnest(range(CAST(least(8, duration_ms // 1000 + 1)
                               AS BIGINT))) AS i
      FROM m
    ),
    fr AS (
      SELECT media_id, CAST(i AS INTEGER) AS frame_idx,
             (CAST('0x' || substr(sha256(text || ':'
                || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 256) AS luma
      FROM sched
    ),
    d AS (
      SELECT media_id, luma,
             lag(luma) OVER (PARTITION BY media_id ORDER BY frame_idx)
               AS prev
      FROM fr
    )
    SELECT media_id,
           CAST(count(*) AS BIGINT) AS n_frames,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND abs(luma - prev) > 64
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_cuts,
           CAST(sum(CASE WHEN prev IS NOT NULL
                          AND abs(luma - prev) > 64
                         THEN 1 ELSE 0 END) + 1 AS BIGINT) AS n_shots
    FROM d GROUP BY 1
    """,
)
def ext_shot_cuts_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot-boundary detection over sampled video frames
    (ext.multimodal.shot_boundaries on sample_frames output): the
    frame-difference cut detector with deterministic fake luma (first
    4 fingerprint bytes mod 256 — no codecs in this container; a real
    decoder swaps one expression), completing the video tier's
    sample → feature → segment pipeline. Lag-window state is one frame
    per media; both engines replay the identical sha256 schedule."""
    from ..ext.multimodal import (
        sample_frames,
        shot_boundaries,
        synthesize_media_from_docs,
    )

    docs = load_table(spark, sf_dir, "documents")
    media = synthesize_media_from_docs(docs, "video").withColumn(
        "duration_ms", F.octet_length(F.col("payload")) * 10
    )
    return shot_boundaries(sample_frames(media, every_ms=1000, max_frames=8))


_MCC_PE = """(((tp + fp) * (tp + fn) + (fn + tn) * (fp + tn))
               / ((tp + fp + fn + tn) * (tp + fp + fn + tn)))"""


@query(
    "ml_nb_metrics",
    oracle=f"""
    WITH {{_NB_SCORED_CTES}},
    cells AS (
      SELECT CAST(sum(CASE WHEN y = 1 AND predicted = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS tp_i,
             CAST(sum(CASE WHEN y = 0 AND predicted = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS fp_i,
             CAST(sum(CASE WHEN y = 1 AND predicted = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS fn_i,
             CAST(sum(CASE WHEN y = 0 AND predicted = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS tn_i
      FROM scored
    ),
    d AS (
      SELECT tp_i, fp_i, fn_i, tn_i,
             CAST(tp_i AS DOUBLE) AS tp, CAST(fp_i AS DOUBLE) AS fp,
             CAST(fn_i AS DOUBLE) AS fn, CAST(tn_i AS DOUBLE) AS tn
      FROM cells
    )
    SELECT CAST(tp_i + fp_i + fn_i + tn_i AS BIGINT) AS n,
           round((tp + tn) / (tp + fp + fn + tn), 6) + 0.0 AS accuracy,
           round((tp * tn - fp * fn)
                 / sqrt((tp + fp) * (tp + fn) * (tn + fp) * (tn + fn)),
                 6) + 0.0 AS mcc,
           round(((tp + tn) / (tp + fp + fn + tn) - {{_MCC_PE}})
                 / (1.0 - {{_MCC_PE}}), 6) + 0.0 AS kappa,
           round((2.0 * tp / (2.0 * tp + fp + fn)
                  + 2.0 * tn / (2.0 * tn + fn + fp)) / 2.0, 6) + 0.0
             AS macro_f1
    FROM d
    """.format(_NB_SCORED_CTES=_NB_SCORED_CTES, _MCC_PE=_MCC_PE),
)
def ml_nb_metrics_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar metrics (accuracy / MCC / Cohen's kappa / macro-F1) of the
    ml_naive_bayes classifier (ml.nb.binary_confusion_scalars over the
    same planted-signal run): four exact confusion cells, one fixed
    double closed form each — the thresholdless complements to
    ml_roc_auc/ml_pr_auc for a hard classifier (MCC and kappa are the
    imbalance-robust scalars a data-quality gate reports)."""
    return NB.binary_confusion_scalars(ml_naive_bayes_q(spark, sf_dir))


_GINI_FEATURE_SQL = """
    g_{f} AS (
      SELECT {f} AS v, count(*) AS n_v, CAST(sum(y) AS BIGINT) AS n1v
      FROM b GROUP BY 1
    ),
    t_{f} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_values,
             CAST(sum(CAST(round((CAST(n_v AS DOUBLE)
                       - (CAST(n1v AS DOUBLE) * CAST(n1v AS DOUBLE)
                          + CAST(n_v - n1v AS DOUBLE)
                            * CAST(n_v - n1v AS DOUBLE))
                         / CAST(n_v AS DOUBLE)) * 1000000000.0)
                  AS BIGINT)) AS BIGINT) AS s
      FROM g_{f}
    )"""

_GINI_SELECT_SQL = """
      SELECT '{f}' AS feature, n_values,
             round(CAST(s AS DOUBLE) / 1000000000.0
                   / CAST(r.n_all AS DOUBLE), 6) + 0.0 AS weighted_gini,
             round((1.0 - (CAST(r.n1 AS DOUBLE) * CAST(r.n1 AS DOUBLE)
                           + CAST(r.n0 AS DOUBLE) * CAST(r.n0 AS DOUBLE))
                          / (CAST(r.n_all AS DOUBLE)
                             * CAST(r.n_all AS DOUBLE)))
                   - CAST(s AS DOUBLE) / 1000000000.0
                     / CAST(r.n_all AS DOUBLE), 6) + 0.0 AS gini_decrease
      FROM t_{f} CROSS JOIN r"""


_NB_BASE_CTE = _NB_SCORED_CTES.split(",\n    tr AS")[0]


@query(
    "ml_gini_feature_rank",
    oracle=f"""
    WITH {_NB_BASE_CTE},
    b AS (SELECT y, f1, f2, f3 FROM base),
    r AS (
      SELECT count(*) AS n_all, CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0
      FROM b
    ),{_GINI_FEATURE_SQL.format(f='f1')},{_GINI_FEATURE_SQL.format(f='f2')},{_GINI_FEATURE_SQL.format(f='f3')}
    {_GINI_SELECT_SQL.format(f='f1')}
      UNION ALL
    {_GINI_SELECT_SQL.format(f='f2')}
      UNION ALL
    {_GINI_SELECT_SQL.format(f='f3')}
    """,
)
def ml_gini_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini-impurity feature ranking over the planted-signal NB table
    (ml.nb.gini_feature_rank on the _nb_base synthesis, full table):
    the CART split criterion as a declarative count plan — priority
    (the planted feature) must dominate the decrease ranking, month and
    price bucket land near zero. Rational arithmetic end-to-end (the
    no-logarithm design rule shared with ml_naive_bayes), per-value
    terms integer-rounded so the Σ over feature values is exact."""
    base = _nb_base(spark, sf_dir)
    return NB.gini_feature_rank(base, "y", ["f1", "f2", "f3"])


@query(
    "rel_simpson_diversity",
    oracle="""
    WITH cc AS (
      SELECT l_suppkey AS g, l_partkey AS c, count(*) AS n_c
      FROM lineitem GROUP BY 1, 2
    ),
    m AS (
      SELECT g, CAST(sum(n_c) AS BIGINT) AS n,
             CAST(count(*) AS BIGINT) AS n_categories,
             CAST(sum(n_c * (n_c - 1)) AS BIGINT) AS num
      FROM cc GROUP BY 1
    )
    SELECT g AS l_suppkey, n, n_categories,
           round(1.0 - CAST(num AS DOUBLE)
                 / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)), 6)
             + 0.0 AS simpson
    FROM m WHERE n >= 2
    """,
)
def rel_simpson_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson diversity of each supplier's part mix
    (operators.agg.simpson_diversity over lineitem): the
    concentration-adjacent assortment-diversity scalar — rel_hhi measures
    revenue concentration, this measures catalog diversity, and the
    rational form (no entropy log) keeps it hash-certified. Two
    map-side-combinable aggregates."""
    li = load_table(spark, sf_dir, "lineitem")
    return AG.simpson_diversity(li, "l_suppkey", "l_partkey")


@query(
    "ts_ljung_box",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
      FROM events
    ),
    cnt AS (SELECT event_type, h, count(*) AS x FROM ev GROUP BY 1, 2),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS h FROM span),
    keys AS (SELECT DISTINCT event_type FROM ev),
    dense AS (
      SELECT k.event_type, a.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM keys k CROSS JOIN axis a
      LEFT JOIN cnt c ON c.event_type = k.event_type AND c.h = a.h
    ),
    g AS (
      SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS qx
      FROM dense GROUP BY 1
    ),
    lags AS (SELECT CAST(unnest(range(1, 9)) AS BIGINT) AS lag),
    pr AS (
      SELECT d.event_type, l.lag,
             CAST(sum(d.x * d2.x) AS BIGINT) AS cl,
             CAST(sum(d.x) AS BIGINT) AS head,
             CAST(sum(d2.x) AS BIGINT) AS tail,
             count(*) AS npairs
      FROM dense d
      CROSS JOIN lags l
      JOIN dense d2 ON d2.event_type = d.event_type AND d2.h = d.h + l.lag
      GROUP BY 1, 2
    ),
    acf AS (
      SELECT p.event_type, p.lag, CAST(g.n AS BIGINT) AS n,
             round((CAST(cl AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * CAST(head + tail AS DOUBLE)
                    + CAST(npairs AS DOUBLE)
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(qx AS DOUBLE)
                      - CAST(n AS DOUBLE)
                        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))),
                   6) + 0.0 AS r
      FROM pr p JOIN g ON g.event_type = p.event_type
    ),
    t AS (
      SELECT event_type, n,
             CAST(round(r * r / CAST(n - lag AS DOUBLE)
                        * 1000000000000.0) AS BIGINT) AS t
      FROM acf
    ),
    m AS (
      SELECT event_type, n, CAST(count(*) AS BIGINT) AS h_lags,
             CAST(sum(t) AS BIGINT) AS s
      FROM t GROUP BY 1, 2
    )
    SELECT event_type, h_lags, CAST(n AS BIGINT) AS n,
           round(CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) + 2.0)
                 * (CAST(s AS DOUBLE) / 1000000000000.0), 6) + 0.0 AS q
    FROM m
    """,
)
def ts_ljung_box_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box whiteness test at lags 1..8 on the dense hourly
    event-count series per type (operators.rankstats.ljung_box over
    operators.timeseries.acf_lags): the portmanteau companion to
    ts_acf_lags — one scalar per series saying whether ANY
    low-lag autocorrelation survives, with each r_l²/(n−l) term
    integer-rounded so the Σ is exact."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
    )
    cnt = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    span = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    axis = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
    )
    keys = ev.select("event_type").distinct()
    dense = (
        keys.crossJoin(F.broadcast(axis))
        .join(cnt, ["event_type", "h"], "left")
        .fillna(0, subset=["x"])
        # dense is re-derived by the global-moment AND both lag-join
        # sides (9 events scans measured); it is |keys × hours| — tiny —
        # so materialize once.
        .localCheckpoint(eager=True)
    )
    acf = TS.acf_lags(dense, "event_type", "h", "x", tuple(range(1, 9)))
    return RS.ljung_box(acf, "event_type")


@query(
    "rel_zonemap_prune_audit",
    oracle="""
    WITH b AS (
      SELECT epoch_us(ts) // 1000000 // 86400 AS p,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events
    ),
    stats AS (
      SELECT p, count(*) AS n_rows, min(v) AS mn, max(v) AS mx
      FROM b GROUP BY 1
    ),
    th AS (SELECT CAST(unnest([1000000, 3000000, 4500000]) AS BIGINT) AS t),
    audit AS (
      SELECT t, CAST(count(*) AS BIGINT) AS n_partitions,
             CAST(sum(CASE WHEN mx < t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_prunable,
             CAST(sum(CASE WHEN mx < t THEN n_rows ELSE 0 END) AS BIGINT)
               AS rows_skipped
      FROM stats CROSS JOIN th GROUP BY 1
    ),
    mt AS (
      SELECT t, CAST(sum(CASE WHEN v >= t THEN 1 ELSE 0 END) AS BIGINT)
               AS rows_matching
      FROM b CROSS JOIN th GROUP BY 1
    )
    SELECT a.t AS threshold, n_partitions, n_prunable, rows_skipped,
           rows_matching
    FROM audit a JOIN mt ON mt.t = a.t
    """,
)
def rel_zonemap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map pruning audit over day-partitioned events
    (operators.partitioning.zonemap_prune_audit): per-day min/max value
    stats vs three ``value ≥ t`` cent thresholds — how many partitions a
    stats-aware scan skips and how many rows that avoids. The
    data-skipping arithmetic behind parquet row-group stats and
    Delta/Iceberg pruning, made hash-certifiable; the measurement
    companion to rel_zorder_layout / rel_compaction_plan."""
    ev = load_table(spark, sf_dir, "events")
    return PT.zonemap_prune_audit(
        ev,
        F.floor(F.col("ts").cast("long") / 86400).cast("bigint"),
        F.round(F.col("value") * 100).cast("bigint"),
        [1000000, 3000000, 4500000],
    )


@query(
    "ext_audio_vad_segments",
    oracle="""
    WITH fr AS (
      SELECT doc_id AS media_id, CAST(i AS INTEGER) AS frame_idx,
             (CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':vad:'
                || CAST(i AS VARCHAR)), 1, 8) AS BIGINT) % 10000)
               / 10000.0 AS rms
      FROM documents CROSS JOIN (SELECT unnest(range(16)) AS i)
    ),
    voiced AS (
      SELECT media_id, frame_idx,
             CAST(rms > 0.5 AS INTEGER) AS v
      FROM fr
    ),
    runs AS (
      SELECT media_id,
             frame_idx - row_number() OVER (PARTITION BY media_id
                                            ORDER BY frame_idx) AS grp,
             count(*) OVER () AS dummy
      FROM voiced WHERE v = 1
    ),
    segs AS (
      SELECT media_id, grp, count(*) AS seg_len
      FROM runs GROUP BY 1, 2
    ),
    seg_agg AS (
      SELECT media_id, CAST(count(*) AS BIGINT) AS n_segments,
             CAST(max(seg_len) AS BIGINT) AS longest_segment
      FROM segs GROUP BY 1
    ),
    base AS (
      SELECT media_id, CAST(count(*) AS BIGINT) AS n_frames,
             CAST(sum(v) AS BIGINT) AS n_voiced
      FROM voiced GROUP BY 1
    )
    SELECT b.media_id, b.n_frames, b.n_voiced,
           COALESCE(s.n_segments, 0) AS n_segments,
           COALESCE(s.longest_segment, 0) AS longest_segment
    FROM base b LEFT JOIN seg_agg s ON s.media_id = b.media_id
    """,
)
def ext_vad_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Voice-activity segmentation (ext.multimodal.vad_segments) over a
    declaratively-synthesized 16-frame RMS table (md5-derived energies —
    the segmentation logic is what's certified; the real
    audio_frame_features mapInPandas path feeds the same shape and is
    pytest-covered + rows-only swept). Gaps-and-islands run detection,
    per-media run-length stats — the audio twin of ext_video_shot_cuts."""
    docs = load_table(spark, sf_dir, "documents")
    idx = spark.range(16).select(F.col("id").cast("int").alias("frame_idx"))
    rms = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":",
                        F.col("media_id").cast("string"),
                        F.lit("vad"),
                        F.col("frame_idx").cast("string"),
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        % 10000
    ) / 10000.0
    frames = docs.select(F.col("doc_id").alias("media_id")).crossJoin(
        F.broadcast(idx)
    ).select("media_id", "frame_idx", rms.alias("rms"))
    from ..ext.multimodal import vad_segments

    return vad_segments(frames, "rms", 0.5)


_KMV_U = """((CAST('0x' || substr(h_k, 1, 8) AS BIGINT) + 0.5)
              / 4294967296.0)"""


@query(
    "rel_kmv_set_ops",
    oracle=f"""
    WITH ha AS (
      SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h
      FROM orders WHERE o_orderpriority = '1-URGENT'
    ),
    hb AS (
      SELECT DISTINCT md5(CAST(o_custkey AS VARCHAR)) AS h
      FROM orders WHERE o_orderpriority = '2-HIGH'
    ),
    sa AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM ha) WHERE rn <= 64
    ),
    sb AS (
      SELECT h FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                     FROM hb) WHERE rn <= 64
    ),
    u AS (
      SELECT DISTINCT h
      FROM (SELECT h FROM sa UNION ALL SELECT h FROM sb)
    ),
    ur AS (
      SELECT h, rn FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn
                         FROM u) WHERE rn <= 64
    ),
    kth AS (
      SELECT CAST(max(rn) AS BIGINT) AS k_filled,
             max(CASE WHEN rn = 64 THEN h END) AS h_k
      FROM ur
    ),
    sample AS (
      SELECT ur.h FROM ur CROSS JOIN kth
      WHERE kth.k_filled < 64 OR ur.rn < 64
    ),
    common AS (
      SELECT CAST(count(*) AS BIGINT) AS n_common
      FROM sample s
      WHERE EXISTS (SELECT 1 FROM sa WHERE sa.h = s.h)
        AND EXISTS (SELECT 1 FROM sb WHERE sb.h = s.h)
    ),
    ex_u AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_union
      FROM (SELECT DISTINCT h
            FROM (SELECT h FROM ha UNION ALL SELECT h FROM hb))
    ),
    ex_i AS (
      SELECT CAST(count(*) AS BIGINT) AS n_exact_intersection
      FROM ha WHERE EXISTS (SELECT 1 FROM hb WHERE hb.h = ha.h)
    )
    SELECT CAST(64 AS BIGINT) AS k, k_filled,
           round(CASE WHEN k_filled < 64 THEN 1.0
                      ELSE {_KMV_U} END, 6) + 0.0 AS theta,
           round(CASE WHEN k_filled < 64 THEN CAST(k_filled AS DOUBLE)
                      ELSE 63.0 / {_KMV_U} END, 2) + 0.0 AS est_union,
           round(CAST(n_common AS DOUBLE)
                 / (CASE WHEN k_filled < 64 THEN 1.0
                         ELSE {_KMV_U} END), 2) + 0.0 AS est_intersection,
           n_exact_union, n_exact_intersection
    FROM kth CROSS JOIN common CROSS JOIN ex_u CROSS JOIN ex_i
    """,
)
def rel_kmv_set_ops_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theta-sketch set algebra on KMV signatures
    (operators.agg.kmv_set_ops): |urgent ∪ high| and |urgent ∩ high|
    customer-set estimates from two 64-hash sketches — the mergeable
    complement of rel_kmv_sketch's single-set cardinality, and the shape
    that answers audience-overlap questions at 100 TB without ever
    co-locating the raw key sets. Sub-θ membership is exact, so the
    estimates (and the exact companions) hash-certify."""
    o = load_table(spark, sf_dir, "orders")
    a = o.filter(F.col("o_orderpriority") == "1-URGENT").select(
        F.col("o_custkey").alias("key")
    )
    b = o.filter(F.col("o_orderpriority") == "2-HIGH").select(
        F.col("o_custkey").alias("key")
    )
    return AG.kmv_set_ops(a, b, "key", k=64)


@query(
    "ext_code_prose_detect",
    oracle="""
    WITH base AS (
      SELECT source AS g,
             CAST(len(regexp_extract_all(text, '[{}()\\[\\]]')) AS BIGINT)
               AS b,
             CAST(len(regexp_extract_all(text, ';')) AS BIGINT) AS s,
             CAST(len(regexp_extract_all(text, '=')) AS BIGINT) AS a,
             CAST(length(text) AS BIGINT) AS c
      FROM documents
    ),
    f AS (SELECT * FROM base WHERE c > 0),
    agg AS (
      SELECT g, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(b) AS BIGINT) AS brackets,
             CAST(sum(s) AS BIGINT) AS semicolons,
             CAST(sum(a) AS BIGINT) AS assigns,
             CAST(sum(c) AS BIGINT) AS chars,
             CAST(sum(CASE WHEN (CAST(b AS DOUBLE)
                                 + 2.0 * CAST(s AS DOUBLE)
                                 + 2.0 * CAST(a AS DOUBLE))
                                / CAST(c AS DOUBLE) > 0.05
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_code
      FROM f GROUP BY 1
    )
    SELECT g AS source, n_docs, brackets, semicolons, assigns, chars,
           round((CAST(brackets AS DOUBLE)
                  + 2.0 * CAST(semicolons AS DOUBLE)
                  + 2.0 * CAST(assigns AS DOUBLE))
                 / CAST(chars AS DOUBLE), 6) + 0.0 AS symbol_score,
           n_code
    FROM agg
    """,
)
def ext_code_detect_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose triage per source (ext.text.code_prose_detect):
    symbol-density scoring — the routing signal that decides whether a
    document enters the code pipeline or the NL quality stack; counts
    exact, corpus score from summed counts, per-doc score only
    thresholded. Fills the code-detection gap in the quality rule sets
    (gopher/c4/langid cover NL only)."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.code_prose_detect(docs, "text", "source")


@query(
    "ml_pinball_loss",
    oracle="""
    WITH base AS (
      SELECT o_orderpriority AS g,
             CAST(round(o_totalprice * 100) AS BIGINT) AS v,
             (CAST('0x' || substr(md5('pinsplit:'
                || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
               / 4294967296.0 AS u
      FROM orders
    ),
    tr AS (SELECT g, v FROM base WHERE u < 0.8),
    te AS (SELECT g, v FROM base WHERE NOT (u < 0.8)),
    ng AS (SELECT g, count(*) AS n_tr FROM tr GROUP BY 1),
    ranked AS (
      SELECT tr.g, tr.v,
             row_number() OVER (PARTITION BY tr.g ORDER BY tr.v ASC) AS rn,
             ng.n_tr
      FROM tr JOIN ng ON ng.g = tr.g
    ),
    pred AS (
      SELECT g, v AS yhat FROM ranked
      WHERE rn = ceil(CAST(n_tr AS DOUBLE) * 0.9)
    ),
    sc AS (
      SELECT te.g, te.v, p.yhat,
             greatest(9 * (te.v - p.yhat), -(te.v - p.yhat)) AS l10
      FROM te JOIN pred p ON p.g = te.g
    ),
    m AS (
      SELECT g, count(*) AS n_test,
             CAST(max(yhat) AS BIGINT) AS p90_pred_cents,
             CAST(sum(l10) AS BIGINT) AS pinball_x10_total,
             CAST(sum(CASE WHEN v <= yhat THEN 1 ELSE 0 END) AS BIGINT)
               AS n_cov
      FROM sc GROUP BY 1
    )
    SELECT g AS o_orderpriority, CAST(n_test AS BIGINT) AS n_test,
           p90_pred_cents, pinball_x10_total,
           round(CAST(pinball_x10_total AS DOUBLE) / 10.0
                 / CAST(n_test AS DOUBLE), 6) AS pinball_mean,
           round(CAST(n_cov AS DOUBLE) / CAST(n_test AS DOUBLE), 6)
             AS coverage
    FROM m
    """,
)
def ml_pinball_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P90 quantile forecast + pinball-loss evaluation per priority
    (ml.eval.pinball_loss_q90, md5 80/20 split): q = 9/10 keeps the
    loss in exact integer cents (10·L = max(9Δ, −Δ)), and the exact
    train-side order statistic is the predictor — the quantile-forecast
    complement to ml_kfold_cv's squared-loss OLS evaluation, plus the
    coverage calibration check."""
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        ":", F.lit("pinsplit"), F.col("o_orderkey").cast("string")
                    )
                ),
                1,
                8,
            ),
            16,
            10,
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderpriority").alias("g"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("v"),
        u.alias("u"),
    ).localCheckpoint(eager=True)
    train = base.filter(F.col("u") < 0.8).select("g", "v")
    test = base.filter(~(F.col("u") < 0.8)).select("g", "v")
    return ME.pinball_loss_q90(train, test, "g", "v").withColumnRenamed(
        "g", "o_orderpriority"
    )


_BT_H = """CAST('0x' || substr(md5('{salt}:'
            || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT)"""


@query(
    "rel_bitemporal_asof",
    oracle=f"""
    WITH o AS (
      SELECT o_orderkey AS okey,
             epoch_us(o_orderdate) // 1000000 // 86400 AS d,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             {_BT_H.format(salt='bt1')} % 4 AS delay1,
             {_BT_H.format(salt='btc')} % 2 AS corrected,
             {_BT_H.format(salt='bt2')} % 4 AS delay2,
             {_BT_H.format(salt='bta')} % 2001 - 1000 AS adj
      FROM orders
    ),
    versions AS (
      SELECT okey, d AS valid_d, d + delay1 AS sys_d, cents,
             CAST(1 AS INTEGER) AS version
      FROM o
      UNION ALL
      SELECT okey, d AS valid_d, d + 7 + delay2 AS sys_d, cents + adj,
             CAST(2 AS INTEGER) AS version
      FROM o WHERE corrected = 0
    ),
    mx AS (SELECT max(d) AS dmax FROM o),
    audit AS (
      SELECT label, dmax + off AS s_asof, dmax AS v_asof
      FROM mx CROSS JOIN (VALUES ('mid', 5), ('late', 20)) t(label, off)
    ),
    vis AS (
      SELECT a.label, v.okey, v.version, v.cents,
             row_number() OVER (PARTITION BY v.okey, a.label
                                ORDER BY v.sys_d DESC, v.valid_d DESC)
               AS rn
      FROM versions v CROSS JOIN audit a
      WHERE v.valid_d <= a.v_asof AND v.sys_d <= a.s_asof
    )
    SELECT label AS as_of_label,
           CAST(count(*) AS BIGINT) AS n_visible,
           CAST(sum(CASE WHEN version = 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_corrected_visible,
           CAST(sum(cents) AS BIGINT) AS total_cents
    FROM vis WHERE rn = 1
    GROUP BY 1
    """,
)
def rel_bitemporal_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitemporal as-of audit (operators.joins.bitemporal_latest): a
    synthesized correction stream (version 1 lands delay-0..3 days after
    the order's valid date; half the orders get a version-2 restatement
    landing day +7..10 with an adjusted amount), then the SAME valid-time
    snapshot resolved at two SYSTEM times — 'mid' (day +5: few
    corrections believed yet) vs 'late' (day +20: all visible). The
    reproducibility primitive scd2_pointlookup lacks: what did the
    warehouse believe THEN. Counts and cent totals exact."""
    h = lambda salt: F.conv(  # noqa: E731
        F.substring(
            F.md5(
                F.concat_ws(":", F.lit(salt), F.col("o_orderkey").cast("string"))
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("okey"),
        F.floor(F.col("o_orderdate").cast("long") / 86400)
        .cast("bigint")
        .alias("d"),
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
        (h("bt1") % 4).alias("delay1"),
        (h("btc") % 2).alias("corrected"),
        (h("bt2") % 4).alias("delay2"),
        (h("bta") % 2001 - 1000).alias("adj"),
    ).localCheckpoint(eager=True)
    v1 = o.select(
        "okey",
        F.col("d").alias("valid_d"),
        (F.col("d") + F.col("delay1")).alias("sys_d"),
        "cents",
        F.lit(1).cast("int").alias("version"),
    )
    v2 = o.filter(F.col("corrected") == 0).select(
        "okey",
        F.col("d").alias("valid_d"),
        (F.col("d") + 7 + F.col("delay2")).alias("sys_d"),
        (F.col("cents") + F.col("adj")).alias("cents"),
        F.lit(2).cast("int").alias("version"),
    )
    versions = v1.unionByName(v2)
    mx = o.agg(F.max("d").alias("dmax"))
    audit = mx.crossJoin(
        F.broadcast(
            spark.createDataFrame([("mid", 5), ("late", 20)], "label string, off int")
        )
    ).select(
        "label",
        (F.col("dmax") + F.col("off")).alias("s_asof"),
        F.col("dmax").alias("v_asof"),
    )
    aug = versions.crossJoin(F.broadcast(audit))
    latest = J.bitemporal_latest(
        aug,
        "okey",
        "valid_d",
        "sys_d",
        F.col("v_asof"),
        F.col("s_asof"),
        extra_partition_cols=("label",),
    )
    return latest.groupBy(F.col("label").alias("as_of_label")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_visible"),
        F.sum((F.col("version") == 2).cast("int"))
        .cast("bigint")
        .alias("n_corrected_visible"),
        F.sum("cents").cast("bigint").alias("total_cents"),
    )


@query(
    "rel_table_checksum",
    oracle="""
    WITH r AS (
      -- collision-safe rendering (matches operators.agg.table_checksum):
      -- escape backslash and the delimiter; NULL renders as backslash-N
      SELECT o_orderpriority AS g,
             coalesce(replace(replace(CAST(o_orderkey AS VARCHAR),
                                      '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
               || coalesce(replace(replace(CAST(o_custkey AS VARCHAR),
                                           '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
               || coalesce(replace(replace(o_orderstatus,
                                           '\\', '\\\\'), '|', '\\|'), '\\N') || '|'
               || coalesce(replace(replace(
                     CAST(CAST(round(o_totalprice * 100) AS BIGINT)
                          AS VARCHAR), '\\', '\\\\'), '|', '\\|'), '\\N')
               AS row_str
      FROM orders
    ),
    h AS (
      SELECT g,
             CAST('0x' || substr(md5('a:' || row_str), 1, 10) AS BIGINT)
               % 1099511627776 AS ha,
             CAST('0x' || substr(md5('b:' || row_str), 1, 10) AS BIGINT)
               % 1099511627776 AS hb
      FROM r
    )
    SELECT g AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(CAST(sum(ha) AS BIGINT) % 2305843009213693952 AS BIGINT)
             AS checksum_a,
           CAST(CAST(sum(hb) AS BIGINT) % 2305843009213693952 AS BIGINT)
             AS checksum_b
    FROM h GROUP BY 1
    """,
)
def rel_table_checksum_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent per-priority fingerprint of the orders table
    (operators.agg.table_checksum over stable renderings: keys, status,
    integer cents): the replication-integrity primitive — two copies of
    a table compare by exchanging |groups| fingerprint rows instead of
    data. Commutative sums mod 2^61; the checksum itself is what the
    driver hash-verifies, which is as meta as the harness gets."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        F.col("o_orderkey").cast("string").alias("c1"),
        F.col("o_custkey").cast("string").alias("c2"),
        F.col("o_orderstatus").alias("c3"),
        F.round(F.col("o_totalprice") * 100)
        .cast("bigint")
        .cast("string")
        .alias("c4"),
    )
    return AG.table_checksum(o, ["c1", "c2", "c3", "c4"], "o_orderpriority")


@query(
    "ts_hurst_exponent",
    oracle="""
    WITH ev AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events
    ),
    cnt AS (SELECT h, count(*) AS x FROM ev GROUP BY 1),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    dense AS (
      SELECT a.h - s.lo AS t, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM span s,
           LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS h) a
      LEFT JOIN cnt c ON c.h = a.h
    ),
    sz AS (SELECT CAST(unnest([16, 32, 64, 128]) AS BIGINT) AS s),
    blocked AS (
      SELECT s, t, x, CAST(t // s AS BIGINT) AS b
      FROM dense CROSS JOIN sz
    ),
    bm AS (
      SELECT s, b, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS qx
      FROM blocked GROUP BY 1, 2
    ),
    bmf AS (SELECT * FROM bm WHERE n = s),
    pre AS (
      SELECT s, b, t,
             CAST(sum(x) OVER (PARTITION BY s, b ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS prefix,
             row_number() OVER (PARTITION BY s, b ORDER BY t) AS j1
      FROM blocked
    ),
    sw AS (
      SELECT p.s, p.b, m.sx, m.qx,
             p.s * p.prefix - p.j1 * m.sx AS swj
      FROM pre p JOIN bmf m ON m.s = p.s AND m.b = p.b
    ),
    blocks AS (
      SELECT s, b, sx, qx,
             CAST(max(swj) - min(swj) AS BIGINT) AS rs_num
      FROM sw GROUP BY 1, 2, 3, 4
    ),
    rs AS (
      SELECT s,
             CAST(rs_num AS DOUBLE)
               / sqrt(CAST(s * qx - sx * sx AS DOUBLE)) AS rs_b
      FROM blocks WHERE s * qx - sx * sx > 0
    ),
    per_size AS (
      SELECT s, CAST(count(*) AS BIGINT) AS n_blocks,
             CAST(sum(CAST(round(rs_b * 1000000000.0) AS BIGINT))
                  AS BIGINT) AS ts_sum
      FROM rs GROUP BY 1
    ),
    pts AS (
      SELECT s, n_blocks,
             round(CAST(ts_sum AS DOUBLE) / 1000000000.0
                   / CAST(n_blocks AS DOUBLE), 6) + 0.0 AS avg_rs
      FROM per_size
    ),
    m AS (
      SELECT count(*) AS k,
             sum(ln(CAST(s AS DOUBLE))) AS sx,
             sum(ln(avg_rs)) AS sy,
             sum(ln(CAST(s AS DOUBLE)) * ln(avg_rs)) AS sxy,
             sum(ln(CAST(s AS DOUBLE)) * ln(CAST(s AS DOUBLE))) AS sxx
      FROM pts
    ),
    hh AS (
      SELECT round((CAST(k AS DOUBLE) * sxy - sx * sy)
                   / (CAST(k AS DOUBLE) * sxx - sx * sx), 6) + 0.0
               AS hurst
      FROM m
    )
    SELECT pts.s, pts.n_blocks, pts.avg_rs, hh.hurst
    FROM pts CROSS JOIN hh
    """,
)
def ts_hurst_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent of the dense hourly event-count series by R/S
    analysis at block sizes 16/32/64/128
    (operators.timeseries.hurst_rs): long-range-dependence detection —
    the memory scalar next to ts_acf_lags (short lags) and
    ts_periodogram (fixed frequencies). Per-block R/S exact-integer,
    block averages integer-rounded, ln only in the final 4-point
    slope."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h")
    )
    cnt = ev.groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    span = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    axis = span.select(
        F.col("lo"),
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"),
    )
    dense = (
        axis.join(cnt, "h", "left")
        .select(
            (F.col("h") - F.col("lo")).alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    return TS.hurst_rs(dense, "t", "x")


_MI_FEATURE_SQL = """
    c_{f} AS (
      SELECT {f} AS v, y, count(*) AS n_vy FROM b GROUP BY 1, 2
    ),
    vt_{f} AS (SELECT {f} AS v, count(*) AS n_v FROM b GROUP BY 1),
    mi_{f} AS (
      SELECT CAST(sum(CAST(round(
               CAST(c.n_vy AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(c.n_vy AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(v.n_v AS DOUBLE)
                       * CAST(CASE WHEN c.y = 1 THEN r.n1
                                   ELSE r.n0 END AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM c_{f} c JOIN vt_{f} v ON v.v = c.v CROSS JOIN r
    ),
    hf_{f} AS (
      SELECT CAST(count(*) AS BIGINT) AS n_values,
             CAST(sum(CAST(round(
               CAST(n_v AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_v AS DOUBLE) / CAST(r.n_all AS DOUBLE))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS h_s
      FROM vt_{f} CROSS JOIN r
    )"""

_MI_SELECT_SQL = """
      SELECT '{f}' AS feature, n_values,
             round(CAST(mi_s AS DOUBLE) / 1000000000000.0, 6) + 0.0
               AS mi_nats,
             round(-(CAST(h_s AS DOUBLE)) / 1000000000000.0, 6) + 0.0
               AS h_feature_nats
      FROM mi_{f} CROSS JOIN hf_{f}"""


@query(
    "ml_mutual_info_rank",
    oracle=f"""
    WITH {_NB_BASE_CTE},
    b AS (SELECT y, f1, f2, f3 FROM base),
    r AS (
      SELECT count(*) AS n_all, CAST(sum(y) AS BIGINT) AS n1,
             CAST(sum(1 - y) AS BIGINT) AS n0
      FROM b
    ),{_MI_FEATURE_SQL.format(f='f1')},{_MI_FEATURE_SQL.format(f='f2')},{_MI_FEATURE_SQL.format(f='f3')}
    {_MI_SELECT_SQL.format(f='f1')}
      UNION ALL
    {_MI_SELECT_SQL.format(f='f2')}
      UNION ALL
    {_MI_SELECT_SQL.format(f='f3')}
    """,
)
def ml_mi_rank_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mutual-information feature ranking on the planted-signal table
    (ml.nb.mutual_info_features over _nb_base): the information-theoretic
    cross-check of ml_gini_feature_rank — priority (the planted feature)
    must carry essentially all the label information; cell terms
    integer-rounded post-ln so the Σ is exact. Feature entropy rides
    along for the uncertainty-coefficient normalization."""
    base = _nb_base(spark, sf_dir)
    return NB.mutual_info_features(base, "y", ["f1", "f2", "f3"])


@query(
    "ts_haar_energy",
    oracle="""
    WITH ev AS (
      SELECT CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h FROM events
    ),
    cnt AS (SELECT h, count(*) AS x FROM ev GROUP BY 1),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    dense AS (
      SELECT a.h - s.lo AS t, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM span s,
           LATERAL (SELECT unnest(generate_series(s.lo, s.hi)) AS h) a
      LEFT JOIN cnt c ON c.h = a.h
    ),
    L0 AS (SELECT t AS p, x AS a FROM dense),
    g1 AS (
      SELECT CAST(floor(CAST(p AS DOUBLE) / 2) AS BIGINT) AS p,
             count(*) AS n,
             CAST(sum(CASE WHEN p % 2 = 0 THEN a END) AS BIGINT) AS e,
             CAST(sum(CASE WHEN p % 2 = 1 THEN a END) AS BIGINT) AS o
      FROM L0 GROUP BY 1
    ),
    f1 AS (SELECT * FROM g1 WHERE n = 2),
    lv1 AS (
      SELECT 1 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum((e - o) * (e - o)) AS BIGINT) AS d2
      FROM f1
    ),
    L1 AS (SELECT p, e + o AS a FROM f1),
    g2 AS (
      SELECT CAST(floor(CAST(p AS DOUBLE) / 2) AS BIGINT) AS p,
             count(*) AS n,
             CAST(sum(CASE WHEN p % 2 = 0 THEN a END) AS BIGINT) AS e,
             CAST(sum(CASE WHEN p % 2 = 1 THEN a END) AS BIGINT) AS o
      FROM L1 GROUP BY 1
    ),
    f2 AS (SELECT * FROM g2 WHERE n = 2),
    lv2 AS (
      SELECT 2 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum((e - o) * (e - o)) AS BIGINT) AS d2
      FROM f2
    ),
    L2 AS (SELECT p, e + o AS a FROM f2),
    g3 AS (
      SELECT CAST(floor(CAST(p AS DOUBLE) / 2) AS BIGINT) AS p,
             count(*) AS n,
             CAST(sum(CASE WHEN p % 2 = 0 THEN a END) AS BIGINT) AS e,
             CAST(sum(CASE WHEN p % 2 = 1 THEN a END) AS BIGINT) AS o
      FROM L2 GROUP BY 1
    ),
    f3 AS (SELECT * FROM g3 WHERE n = 2),
    lv3 AS (
      SELECT 3 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum((e - o) * (e - o)) AS BIGINT) AS d2
      FROM f3
    ),
    L3 AS (SELECT p, e + o AS a FROM f3),
    g4 AS (
      SELECT CAST(floor(CAST(p AS DOUBLE) / 2) AS BIGINT) AS p,
             count(*) AS n,
             CAST(sum(CASE WHEN p % 2 = 0 THEN a END) AS BIGINT) AS e,
             CAST(sum(CASE WHEN p % 2 = 1 THEN a END) AS BIGINT) AS o
      FROM L3 GROUP BY 1
    ),
    f4 AS (SELECT * FROM g4 WHERE n = 2),
    lv4 AS (
      SELECT 4 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum((e - o) * (e - o)) AS BIGINT) AS d2
      FROM f4
    ),
    L4 AS (SELECT p, e + o AS a FROM f4),
    g5 AS (
      SELECT CAST(floor(CAST(p AS DOUBLE) / 2) AS BIGINT) AS p,
             count(*) AS n,
             CAST(sum(CASE WHEN p % 2 = 0 THEN a END) AS BIGINT) AS e,
             CAST(sum(CASE WHEN p % 2 = 1 THEN a END) AS BIGINT) AS o
      FROM L4 GROUP BY 1
    ),
    f5 AS (SELECT * FROM g5 WHERE n = 2),
    lv5 AS (
      SELECT 5 AS level, CAST(count(*) AS BIGINT) AS n_coeffs,
             CAST(sum((e - o) * (e - o)) AS BIGINT) AS d2
      FROM f5
    ),
    L5 AS (SELECT p, e + o AS a FROM f5),
    lvls AS (
      SELECT level, n_coeffs, CAST(d2 AS DOUBLE) / 2.0 AS energy_raw FROM lv1
      UNION ALL
      SELECT level, n_coeffs, CAST(d2 AS DOUBLE) / 4.0 AS energy_raw FROM lv2
      UNION ALL
      SELECT level, n_coeffs, CAST(d2 AS DOUBLE) / 8.0 AS energy_raw FROM lv3
      UNION ALL
      SELECT level, n_coeffs, CAST(d2 AS DOUBLE) / 16.0 AS energy_raw FROM lv4
      UNION ALL
      SELECT level, n_coeffs, CAST(d2 AS DOUBLE) / 32.0 AS energy_raw FROM lv5
    ),
    tot AS (SELECT sum(energy_raw) AS tot FROM lvls)
    SELECT CAST(level AS INTEGER) AS level, n_coeffs,
           round(energy_raw, 6) + 0.0 AS energy,
           round(energy_raw / tot.tot, 6) + 0.0 AS energy_frac
    FROM lvls CROSS JOIN tot
    """,
)
def ts_haar_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Haar wavelet energy by scale (operators.timeseries.haar_energy,
    5 levels = 2h..32h scales) over the dense hourly event-count series:
    which time scales carry the variance — the multi-resolution
    complement of ts_periodogram (fixed frequencies) and
    ts_hurst_exponent (one memory scalar). Exact-integer pyramid;
    doubles only at the per-level energy division."""
    ev = load_table(spark, sf_dir, "events").select(
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h")
    )
    cnt = ev.groupBy("h").agg(F.count(F.lit(1)).alias("x"))
    span = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    axis = span.select(
        F.col("lo"),
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h"),
    )
    dense = (
        axis.join(cnt, "h", "left")
        .select(
            (F.col("h") - F.col("lo")).alias("t"),
            F.coalesce(F.col("x"), F.lit(0)).cast("bigint").alias("x"),
        )
        .localCheckpoint(eager=True)
    )
    return TS.haar_energy(dense, "t", "x", levels=5)


@query(
    "ts_ar2_fit",
    oracle="""
    WITH ev AS (
      SELECT event_type,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS h
      FROM events
    ),
    cnt AS (SELECT event_type, h, count(*) AS x FROM ev GROUP BY 1, 2),
    span AS (SELECT min(h) AS lo, max(h) AS hi FROM ev),
    axis AS (SELECT unnest(generate_series(lo, hi)) AS h FROM span),
    keys AS (SELECT DISTINCT event_type FROM ev),
    dense AS (
      SELECT k.event_type, a.h, CAST(COALESCE(c.x, 0) AS BIGINT) AS x
      FROM keys k CROSS JOIN axis a
      LEFT JOIN cnt c ON c.event_type = k.event_type AND c.h = a.h
    ),
    g AS (
      SELECT event_type, count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
             CAST(sum(x * x) AS BIGINT) AS qx
      FROM dense GROUP BY 1
    ),
    lags AS (SELECT CAST(unnest([1, 2]) AS BIGINT) AS lag),
    pr AS (
      SELECT d.event_type, l.lag,
             CAST(sum(d.x * d2.x) AS BIGINT) AS cl,
             CAST(sum(d.x) AS BIGINT) AS head,
             CAST(sum(d2.x) AS BIGINT) AS tail,
             count(*) AS npairs
      FROM dense d
      CROSS JOIN lags l
      JOIN dense d2 ON d2.event_type = d.event_type AND d2.h = d.h + l.lag
      GROUP BY 1, 2
    ),
    acf AS (
      SELECT p.event_type, p.lag,
             round((CAST(cl AS DOUBLE)
                    - (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * CAST(head + tail AS DOUBLE)
                    + CAST(npairs AS DOUBLE)
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                      * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)))
                   / (CAST(qx AS DOUBLE)
                      - CAST(n AS DOUBLE)
                        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))
                        * (CAST(sx AS DOUBLE) / CAST(n AS DOUBLE))),
                   6) + 0.0 AS r
      FROM pr p JOIN g ON g.event_type = p.event_type
    ),
    pv AS (
      SELECT event_type,
             max(CASE WHEN lag = 1 THEN r END) AS r1,
             max(CASE WHEN lag = 2 THEN r END) AS r2
      FROM acf GROUP BY 1
    ),
    c AS (
      SELECT event_type, r1, r2,
             r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1,
             (r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2
      FROM pv
    )
    SELECT event_type, r1, r2,
           round(phi1, 6) + 0.0 AS phi1,
           round(phi2, 6) + 0.0 AS phi2,
           round(1.0 - phi1 * r1 - phi2 * r2, 6) + 0.0 AS innov_ratio,
           (abs(phi2) < 1.0 AND phi2 + phi1 < 1.0 AND phi2 - phi1 < 1.0)
             AS stationary
    FROM c
    """,
)
def ts_ar2_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AR(2) Yule-Walker fit per event type over the dense hourly series
    (operators.timeseries.ar2_yule_walker over acf_lags at lags 1, 2):
    forecast-ready autoregressive coefficients + innovation-variance
    ratio + stationarity flag — the parametric step beyond ts_acf_lags'
    raw correlations, closed-form from the rounded ACF grid."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type",
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
    )
    cnt = ev.groupBy("event_type", "h").agg(F.count(F.lit(1)).alias("x"))
    span = ev.agg(F.min("h").alias("lo"), F.max("h").alias("hi"))
    axis = span.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("h")
    )
    keys = ev.select("event_type").distinct()
    dense = (
        keys.crossJoin(F.broadcast(axis))
        .join(cnt, ["event_type", "h"], "left")
        .fillna(0, subset=["x"])
        .localCheckpoint(eager=True)
    )
    acf = TS.acf_lags(dense, "event_type", "h", "x", (1, 2))
    return TS.ar2_yule_walker(acf, "event_type")


@query(
    "ts_changepoint_binseg",
    oracle="""
    WITH b AS (
      SELECT event_type AS key,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    pre AS (
      SELECT key, t,
             row_number() OVER (PARTITION BY key ORDER BY t) AS i,
             CAST(sum(x) OVER (PARTITION BY key ORDER BY t
                               ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ps,
             CAST(sum(x * x) OVER (PARTITION BY key ORDER BY t
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS pq
      FROM b
    ),
    tot AS (
      SELECT key, CAST(max(i) AS BIGINT) AS n,
             CAST(max(ps) AS BIGINT) AS total_s,
             CAST(max(pq) AS BIGINT) AS total_q
      FROM pre GROUP BY 1
    ),
    cand AS (
      SELECT p.key, p.t, tot.n,
             (CAST(total_q AS DOUBLE)
              - CAST(total_s AS DOUBLE) * CAST(total_s AS DOUBLE)
                / CAST(n AS DOUBLE))
             - ((CAST(pq AS DOUBLE)
                 - CAST(ps AS DOUBLE) * CAST(ps AS DOUBLE)
                   / CAST(i AS DOUBLE))
                + ((CAST(total_q AS DOUBLE) - CAST(pq AS DOUBLE))
                   - (CAST(total_s AS DOUBLE) - CAST(ps AS DOUBLE))
                     * (CAST(total_s AS DOUBLE) - CAST(ps AS DOUBLE))
                     / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)))) AS g,
             CAST(ps AS DOUBLE) / CAST(i AS DOUBLE) AS ml,
             (CAST(total_s AS DOUBLE) - CAST(ps AS DOUBLE))
               / (CAST(n AS DOUBLE) - CAST(i AS DOUBLE)) AS mr
      FROM pre p JOIN tot ON tot.key = p.key
      WHERE p.i >= 8 AND p.i <= tot.n - 8
    ),
    best AS (
      SELECT key, n, t, ml, mr, g,
             row_number() OVER (PARTITION BY key
                                ORDER BY g DESC, t ASC) AS rn
      FROM cand
    )
    SELECT key AS event_type, n, t AS t_split,
           round(ml, 6) + 0.0 AS mean_left,
           round(mr, 6) + 0.0 AS mean_right,
           round(g, 6) + 0.0 AS gain
    FROM best WHERE rn = 1
    """,
)
def ts_binseg_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimal single change point per event type over the hourly count
    series (operators.timeseries.changepoint_binseg): exact prefix-sum
    SSE costs, deterministic argmax — the offline/optimal companion to
    ts_cusum_changepoints' sequential detector (binary segmentation is
    what you recurse for multiple breaks; one level is certified
    here)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("t"),
    )
    b = ev.groupBy("key", "t").agg(F.count(F.lit(1)).alias("x"))
    return TS.changepoint_binseg(b, "key", "t", "x").withColumnRenamed(
        "key", "event_type"
    )


@query(
    "rel_t_closeness",
    oracle="""
    WITH base AS (
      SELECT c_nationkey, c_mktsegment,
             CAST(CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS VARCHAR)
               AS s
      FROM customer
    ),
    gdist AS (SELECT s, count(*) AS n_s FROM base GROUP BY 1),
    tot AS (SELECT count(*) AS n_all FROM base),
    grp AS (
      SELECT c_nationkey, c_mktsegment, count(*) AS n_g
      FROM base GROUP BY 1, 2
    ),
    cells AS (
      SELECT c_nationkey, c_mktsegment, s, count(*) AS n_gs
      FROM base GROUP BY 1, 2, 3
    ),
    grid AS (
      SELECT g.c_nationkey, g.c_mktsegment, g.n_g, gl.s, gl.n_s,
             COALESCE(c.n_gs, 0) AS n_gs, t.n_all
      FROM grp g
      CROSS JOIN gdist gl
      LEFT JOIN cells c ON c.c_nationkey = g.c_nationkey
                       AND c.c_mktsegment = g.c_mktsegment
                       AND c.s = gl.s
      CROSS JOIN tot t
    ),
    tv AS (
      SELECT c_nationkey, c_mktsegment, n_g, n_all,
             CAST(sum(abs(n_gs * n_all - n_s * n_g)) AS BIGINT) AS tv_num
      FROM grid GROUP BY 1, 2, 3, 4
    )
    SELECT c_nationkey, c_mktsegment, CAST(n_g AS BIGINT) AS n_g,
           round(CAST(tv_num AS DOUBLE)
                 / (2.0 * CAST(n_g AS DOUBLE) * CAST(n_all AS DOUBLE)),
                 6) AS tv_distance
    FROM tv WHERE n_g >= 10
    """,
)
def rel_t_closeness_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness over the (nation, segment) quasi-identifier with
    account-balance bucket as the sensitive attribute
    (operators.clean.t_closeness): exact cleared-denominator TV distance
    per group — completes the anonymity trio (rel_k_anonymity group
    sizes, rel_l_diversity distinct counts, now distribution skew)."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_nationkey",
        "c_mktsegment",
        F.floor(F.col("c_acctbal") / 2000.0)
        .cast("bigint")
        .cast("string")
        .alias("sens"),
    )
    from ..operators.clean import t_closeness

    return t_closeness(cust, ["c_nationkey", "c_mktsegment"], "sens")


@query(
    "ext_quality_rule_overlap",
    oracle=r"""
    WITH f AS (
      SELECT CAST(length(text) >= 200 AND length(text) <= 20000
                  AS INTEGER) AS len_band,
             CAST(CAST(len(regexp_extract_all(text, '[{}()\[\];=]'))
                       AS DOUBLE)
                  <= 0.02 * CAST(greatest(length(text), 1) AS DOUBLE)
                  AS INTEGER) AS low_symbol,
             CAST(CAST(len(regexp_extract_all(text, '[A-Za-z]'))
                       AS DOUBLE)
                  >= 3.0 * CAST(greatest(len(regexp_extract_all(text,
                       '[A-Za-z]+')), 1) AS DOUBLE)
                  AND CAST(len(regexp_extract_all(text, '[A-Za-z]'))
                          AS DOUBLE)
                  <= 10.0 * CAST(greatest(len(regexp_extract_all(text,
                       '[A-Za-z]+')), 1) AS DOUBLE)
                  AS INTEGER) AS word_len,
             CAST(CAST(len(regexp_extract_all(lower(text),
                       '\b(the|and|of|to|a|in|is|it)\b')) AS DOUBLE)
                  * 20.0
                  >= CAST(greatest(len(regexp_extract_all(text,
                       '[A-Za-z]+')), 1) AS DOUBLE)
                  AS INTEGER) AS stopword
      FROM documents
    ),
    m AS (
      SELECT count(*) AS n_docs, CAST(sum(len_band) AS BIGINT) AS n_len_band, CAST(sum(len_band * len_band) AS BIGINT) AS b_len_band__len_band, CAST(sum(len_band * low_symbol) AS BIGINT) AS b_len_band__low_symbol, CAST(sum(len_band * word_len) AS BIGINT) AS b_len_band__word_len, CAST(sum(len_band * stopword) AS BIGINT) AS b_len_band__stopword, CAST(sum(low_symbol) AS BIGINT) AS n_low_symbol, CAST(sum(low_symbol * low_symbol) AS BIGINT) AS b_low_symbol__low_symbol, CAST(sum(low_symbol * word_len) AS BIGINT) AS b_low_symbol__word_len, CAST(sum(low_symbol * stopword) AS BIGINT) AS b_low_symbol__stopword, CAST(sum(word_len) AS BIGINT) AS n_word_len, CAST(sum(word_len * word_len) AS BIGINT) AS b_word_len__word_len, CAST(sum(word_len * stopword) AS BIGINT) AS b_word_len__stopword, CAST(sum(stopword) AS BIGINT) AS n_stopword, CAST(sum(stopword * stopword) AS BIGINT) AS b_stopword__stopword
      FROM f
    )
      SELECT 'len_band' AS rule_a, 'len_band' AS rule_b,
             n_len_band AS n_a, b_len_band__len_band AS n_both,
             n_len_band + n_len_band - b_len_band__len_band AS n_either,
             round(CAST(b_len_band__len_band AS DOUBLE)
                   / CAST(greatest(n_len_band + n_len_band - b_len_band__len_band, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'len_band' AS rule_a, 'low_symbol' AS rule_b,
             n_len_band AS n_a, b_len_band__low_symbol AS n_both,
             n_len_band + n_low_symbol - b_len_band__low_symbol AS n_either,
             round(CAST(b_len_band__low_symbol AS DOUBLE)
                   / CAST(greatest(n_len_band + n_low_symbol - b_len_band__low_symbol, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'len_band' AS rule_a, 'word_len' AS rule_b,
             n_len_band AS n_a, b_len_band__word_len AS n_both,
             n_len_band + n_word_len - b_len_band__word_len AS n_either,
             round(CAST(b_len_band__word_len AS DOUBLE)
                   / CAST(greatest(n_len_band + n_word_len - b_len_band__word_len, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'len_band' AS rule_a, 'stopword' AS rule_b,
             n_len_band AS n_a, b_len_band__stopword AS n_both,
             n_len_band + n_stopword - b_len_band__stopword AS n_either,
             round(CAST(b_len_band__stopword AS DOUBLE)
                   / CAST(greatest(n_len_band + n_stopword - b_len_band__stopword, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'low_symbol' AS rule_a, 'low_symbol' AS rule_b,
             n_low_symbol AS n_a, b_low_symbol__low_symbol AS n_both,
             n_low_symbol + n_low_symbol - b_low_symbol__low_symbol AS n_either,
             round(CAST(b_low_symbol__low_symbol AS DOUBLE)
                   / CAST(greatest(n_low_symbol + n_low_symbol - b_low_symbol__low_symbol, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'low_symbol' AS rule_a, 'word_len' AS rule_b,
             n_low_symbol AS n_a, b_low_symbol__word_len AS n_both,
             n_low_symbol + n_word_len - b_low_symbol__word_len AS n_either,
             round(CAST(b_low_symbol__word_len AS DOUBLE)
                   / CAST(greatest(n_low_symbol + n_word_len - b_low_symbol__word_len, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'low_symbol' AS rule_a, 'stopword' AS rule_b,
             n_low_symbol AS n_a, b_low_symbol__stopword AS n_both,
             n_low_symbol + n_stopword - b_low_symbol__stopword AS n_either,
             round(CAST(b_low_symbol__stopword AS DOUBLE)
                   / CAST(greatest(n_low_symbol + n_stopword - b_low_symbol__stopword, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'word_len' AS rule_a, 'word_len' AS rule_b,
             n_word_len AS n_a, b_word_len__word_len AS n_both,
             n_word_len + n_word_len - b_word_len__word_len AS n_either,
             round(CAST(b_word_len__word_len AS DOUBLE)
                   / CAST(greatest(n_word_len + n_word_len - b_word_len__word_len, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'word_len' AS rule_a, 'stopword' AS rule_b,
             n_word_len AS n_a, b_word_len__stopword AS n_both,
             n_word_len + n_stopword - b_word_len__stopword AS n_either,
             round(CAST(b_word_len__stopword AS DOUBLE)
                   / CAST(greatest(n_word_len + n_stopword - b_word_len__stopword, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
      UNION ALL
      SELECT 'stopword' AS rule_a, 'stopword' AS rule_b,
             n_stopword AS n_a, b_stopword__stopword AS n_both,
             n_stopword + n_stopword - b_stopword__stopword AS n_either,
             round(CAST(b_stopword__stopword AS DOUBLE)
                   / CAST(greatest(n_stopword + n_stopword - b_stopword__stopword, 1)
                          AS DOUBLE), 6) AS jaccard
      FROM m
    """,
)
def ext_quality_overlap_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-rule ablation matrix (ext.text.quality_rule_overlap):
    pairwise survivor Jaccard between four representative filter rules
    (length band, symbol density, mean word length, stopword fraction)
    — the curation diagnostic that exposes redundant rules before a
    100 TB pipeline pays for all of them. One scan, one moment row."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.quality_rule_overlap(docs, "text")


@query(
    "ts_stream_kmv",
    oracle="""
    WITH d AS (
      SELECT DISTINCT event_type,
             md5(CAST(user_id AS VARCHAR)) AS h
      FROM events
    ),
    r AS (
      SELECT event_type, h,
             row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
      FROM d
    ),
    ex AS (
      SELECT event_type, CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact
      FROM events GROUP BY 1
    )
    SELECT r.event_type,
           string_agg(r.h, ',' ORDER BY r.h) AS sketch,
           CAST(count(*) AS BIGINT) AS k_filled,
           any_value(ex.n_exact) AS n_exact
    FROM r JOIN ex ON ex.event_type = r.event_type
    WHERE r.rn <= 32
    GROUP BY 1
    """,
)
def ts_stream_kmv_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING mergeable KMV sketch: per-event-type distinct-user
    signatures accumulated across THREE real micro-batches via
    foreachBatch min-k merges (streaming.sinks.streaming_kmv_signature)
    — min-k is a semilattice, so the streamed signature hash-equals the
    one-shot batch sketch whatever the batch boundaries (the oracle IS
    the batch sketch — the strongest mergeability statement the harness
    can make, the sketch twin of ts_stream_topk's exact-count parity)."""
    from ..streaming.events import read_event_stream
    from ..streaming.sinks import streaming_kmv_signature

    src = _multibatch_events_dir(spark, sf_dir)
    stream = read_event_stream(
        spark, src, glob="*.parquet", max_files_per_trigger=1
    ).select("event_type", "user_id")
    sig = streaming_kmv_signature(spark, stream, "event_type", "user_id", k=32)[0]
    ex = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("event_type").cast("string").alias("g"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("n_exact"))
    )
    return (
        sig.groupBy("g")
        .agg(
            F.concat_ws(",", F.array_sort(F.collect_list("h"))).alias("sketch"),
            F.count(F.lit(1)).cast("bigint").alias("k_filled"),
        )
        .join(F.broadcast(ex), "g")
        .select(
            F.col("g").alias("event_type"), "sketch", "k_filled", "n_exact"
        )
    )


@query(
    "ml_class_balance",
    oracle="""
    WITH base AS (
      SELECT o_orderkey AS id,
             CAST((CAST('0x' || substr(md5('cbl:'
                || CAST(o_orderkey AS VARCHAR)), 1, 8) AS BIGINT) + 0.5)
                / 4294967296.0 < 0.15 AS INTEGER) AS y
      FROM orders
    ),
    cls AS (
      SELECT CAST(sum(1 - y) AS BIGINT) AS n0,
             CAST(sum(y) AS BIGINT) AS n1
      FROM base
    ),
    cop AS (
      SELECT b.id, b.y,
             CASE WHEN b.y = 1
                  THEN CAST(c.n0 // c.n1 AS INTEGER)
                       + CAST((CAST('0x' || substr(md5('cbe:'
                           || CAST(b.id AS VARCHAR)), 1, 8) AS BIGINT)
                           + 0.5) / 4294967296.0
                          < CAST(c.n0 % c.n1 AS DOUBLE)
                            / CAST(c.n1 AS DOUBLE) AS INTEGER)
                  ELSE 1 END AS copies
      FROM base b CROSS JOIN cls c
    ),
    h AS (
      SELECT y, copies,
             CAST('0x' || substr(md5('ck:' || CAST(id AS VARCHAR)), 1, 10)
                  AS BIGINT) % 1099511627776 AS hk
      FROM cop
    )
    SELECT CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_majority,
           CAST(sum(CASE WHEN y = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_minority,
           CAST(sum(CASE WHEN y = 1 THEN copies ELSE 0 END) AS BIGINT)
             AS n_minority_after,
           round(CAST(sum(CASE WHEN y = 1 THEN copies ELSE 0 END)
                      AS DOUBLE)
                 / CAST(sum(CASE WHEN y = 0 THEN 1 ELSE 0 END)
                        AS DOUBLE), 6) AS balance_ratio,
           CAST(CAST(sum(CASE WHEN y = 1 THEN copies * hk ELSE 0 END)
                     AS BIGINT) % 2305843009213693952
                AS BIGINT) AS checksum
    FROM h
    """,
)
def ml_class_balance_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic minority oversampling audit
    (ml.prep.balance_oversample on a planted 15% label): the md5-driven
    expansion makes E[n_after] = n_majority exactly and every engine
    replicate the same rows — certified here by the copy-weighted key
    checksum over the actually-exploded resample (the table_checksum
    idiom), not just the counts."""
    base = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("id"),
        (
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat_ws(
                                ":", F.lit("cbl"),
                                F.col("o_orderkey").cast("string"),
                            )
                        ),
                        1,
                        8,
                    ),
                    16,
                    10,
                ).cast("long")
                + 0.5
            )
            / 4294967296.0
            < 0.15
        ).cast("int").alias("y"),
    ).localCheckpoint(eager=True)
    from ..ml.prep import balance_oversample

    res = balance_oversample(base, "y", "id")
    hk = F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("ck:"), F.col("id").cast("string"))),
                1,
                10,
            ),
            16,
            10,
        ).cast("long"),
        F.lit(1099511627776),
    )
    per_row = res.select("id", "y", hk.alias("hk"))
    return per_row.agg(
        F.sum((F.col("y") == 0).cast("int")).cast("bigint").alias("n_majority"),
        # originals only: each minority source row counted once
        F.sum(
            F.when(F.col("y") == 1, 1).otherwise(0)
        ).cast("bigint").alias("__n_min_rows"),
        F.sum(F.col("y")).cast("bigint").alias("__n_min_copies"),
        F.sum(F.when(F.col("y") == 1, F.col("hk")).otherwise(0)).alias("__ck"),
    ).crossJoin(
        F.broadcast(
            base.agg(F.sum("y").cast("bigint").alias("n_minority"))
        )
    ).select(
        "n_majority",
        "n_minority",
        F.col("__n_min_copies").alias("n_minority_after"),
        F.round(
            F.col("__n_min_copies").cast("double")
            / F.col("n_majority").cast("double"),
            6,
        ).alias("balance_ratio"),
        F.pmod(F.col("__ck"), F.lit(2305843009213693952))
        .cast("bigint")
        .alias("checksum"),
    )


@query(
    "ml_mrmr_rank",
    oracle=f"""
    WITH {_NB_BASE_CTE},
    b AS (SELECT y, f1, f2, f3 FROM base),
    r AS (SELECT count(*) AS n_all FROM b),
    mi_f1y AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f1 AS a, CAST(y AS VARCHAR) AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f1 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT CAST(y AS VARCHAR) AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    ),
    mi_f2y AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f2 AS a, CAST(y AS VARCHAR) AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f2 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT CAST(y AS VARCHAR) AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    ),
    mi_f3y AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f3 AS a, CAST(y AS VARCHAR) AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f3 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT CAST(y AS VARCHAR) AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    ),
    mi_f1f2 AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f1 AS a, f2 AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f1 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT f2 AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    ),
    mi_f1f3 AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f1 AS a, f3 AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f1 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT f3 AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    ),
    mi_f2f3 AS (
      SELECT CAST(sum(CAST(round(
               CAST(n_ab AS DOUBLE) / CAST(r.n_all AS DOUBLE)
               * ln(CAST(n_ab AS DOUBLE) * CAST(r.n_all AS DOUBLE)
                    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS mi_s
      FROM (SELECT f2 AS a, f3 AS bb, count(*) AS n_ab
            FROM b GROUP BY 1, 2) c
      JOIN (SELECT f2 AS a, count(*) AS n_a FROM b GROUP BY 1) ma
        ON ma.a = c.a
      JOIN (SELECT f3 AS bb, count(*) AS n_b FROM b GROUP BY 1) mb
        ON mb.bb = c.bb
      CROSS JOIN r
    )
      SELECT 'f1' AS feature,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0, 6) + 0.0
               AS relevance,
             round(CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                   / 1000000000000.0 / 2.0, 6) + 0.0 AS redundancy,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0
                   - CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                     / 1000000000000.0 / 2.0, 6) + 0.0 AS mrmr
      FROM mi_f1y rel CROSS JOIN mi_f1f2 ra CROSS JOIN mi_f1f3 rb
      UNION ALL
      SELECT 'f2' AS feature,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0, 6) + 0.0
               AS relevance,
             round(CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                   / 1000000000000.0 / 2.0, 6) + 0.0 AS redundancy,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0
                   - CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                     / 1000000000000.0 / 2.0, 6) + 0.0 AS mrmr
      FROM mi_f2y rel CROSS JOIN mi_f1f2 ra CROSS JOIN mi_f2f3 rb
      UNION ALL
      SELECT 'f3' AS feature,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0, 6) + 0.0
               AS relevance,
             round(CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                   / 1000000000000.0 / 2.0, 6) + 0.0 AS redundancy,
             round(CAST(rel.mi_s AS DOUBLE) / 1000000000000.0
                   - CAST(ra.mi_s + rb.mi_s AS DOUBLE)
                     / 1000000000000.0 / 2.0, 6) + 0.0 AS mrmr
      FROM mi_f3y rel CROSS JOIN mi_f1f3 ra CROSS JOIN mi_f2f3 rb
    """,
)
def ml_mrmr_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mRMR feature scoring on the planted-signal table
    (ml.nb.mrmr_rank): relevance MI(f, y) minus mean pairwise feature
    redundancy MI(f, f') — the selection criterion that demotes features
    restating each other, composed from the same integer-rounded MI
    cells as ml_mutual_info_rank; priority must top the mrmr order."""
    base = _nb_base(spark, sf_dir)
    return NB.mrmr_rank(base, "y", ["f1", "f2", "f3"])


@query(
    "ts_runs_test",
    oracle="""
    WITH b AS (
      SELECT event_type AS key,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    cnt AS (SELECT key, count(*) AS n FROM b GROUP BY 1),
    med AS (
      SELECT r.key, r.x AS med
      FROM (SELECT key, x,
                   row_number() OVER (PARTITION BY key ORDER BY x, t)
                     AS rv
            FROM b) r
      JOIN cnt ON cnt.key = r.key
      WHERE r.rv = CAST(ceil(CAST(cnt.n AS DOUBLE) / 2.0) AS BIGINT)
    ),
    sg AS (
      SELECT b.key, b.t, CAST(b.x > med.med AS INTEGER) AS sgn
      FROM b JOIN med ON med.key = b.key
    ),
    runs AS (
      SELECT key, sgn,
             CASE WHEN lag(sgn) OVER (PARTITION BY key ORDER BY t)
                       IS NULL
                    OR lag(sgn) OVER (PARTITION BY key ORDER BY t)
                       <> sgn
                  THEN 1 ELSE 0 END AS is_start
      FROM sg
    ),
    m AS (
      SELECT key, count(*) AS n,
             CAST(sum(sgn) AS BIGINT) AS n_above,
             CAST(sum(1 - sgn) AS BIGINT) AS n_below,
             CAST(sum(is_start) AS BIGINT) AS n_runs
      FROM runs GROUP BY 1
    )
    SELECT key AS event_type, CAST(n AS BIGINT) AS n, n_above, n_below,
           n_runs,
           round((CAST(n_runs AS DOUBLE)
                  - (2.0 * CAST(n_above AS DOUBLE)
                     * CAST(n_below AS DOUBLE) / CAST(n AS DOUBLE)
                     + 1.0))
                 / sqrt(2.0 * CAST(n_above AS DOUBLE)
                        * CAST(n_below AS DOUBLE)
                        * (2.0 * CAST(n_above AS DOUBLE)
                           * CAST(n_below AS DOUBLE)
                           - CAST(n AS DOUBLE))
                        / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                           * (CAST(n AS DOUBLE) - 1.0))), 6) + 0.0 AS z
    FROM m
    """,
)
def ts_runs_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test per event type on the hourly count
    series (operators.rankstats.runs_test): dichotomized at the exact
    median order statistic, runs counted with one lag window — the
    run-structure leg of the nonparametric family."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("t"),
    )
    b = ev.groupBy("key", "t").agg(F.count(F.lit(1)).alias("x"))
    return RS.runs_test(b, "key", "t", "x").withColumnRenamed(
        "key", "event_type"
    )


@query(
    "ts_turning_points",
    oracle="""
    WITH b AS (
      SELECT event_type AS key,
             CAST(floor(epoch(ts) / 3600) AS BIGINT) AS t,
             count(*) AS x
      FROM events GROUP BY 1, 2
    ),
    tp AS (
      SELECT key,
             CASE WHEN (lag(x) OVER w < x AND lead(x) OVER w < x)
                    OR (lag(x) OVER w > x AND lead(x) OVER w > x)
                  THEN 1 ELSE 0 END AS is_tp
      FROM b
      WINDOW w AS (PARTITION BY key ORDER BY t)
    ),
    m AS (
      SELECT key, count(*) AS n,
             CAST(sum(COALESCE(is_tp, 0)) AS BIGINT) AS n_turning
      FROM tp GROUP BY 1
    )
    SELECT key AS event_type, CAST(n AS BIGINT) AS n, n_turning,
           round((CAST(n_turning AS DOUBLE)
                  - 2.0 * (CAST(n AS DOUBLE) - 2.0) / 3.0)
                 / sqrt((16.0 * CAST(n AS DOUBLE) - 29.0) / 90.0),
                 6) + 0.0 AS z
    FROM m
    """,
)
def ts_turning_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Turning-points randomness test per event type
    (operators.rankstats.turning_points_test): strict local extrema vs
    the i.i.d. null moments — the oscillation-rate companion to
    ts_runs_test (too few turns = trend, too many = alternation)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("event_type").alias("key"),
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("t"),
    )
    b = ev.groupBy("key", "t").agg(F.count(F.lit(1)).alias("x"))
    return RS.turning_points_test(b, "key", "t", "x").withColumnRenamed(
        "key", "event_type"
    )


@query(
    "ext_span_corruption",
    oracle="""
    WITH t AS (
      SELECT source AS g, doc_id AS did,
             string_split_regex(trim(text), '\\s+') AS w
      FROM documents
    ),
    toks AS (
      SELECT g, did, CAST(i AS INTEGER) AS i
      FROM (SELECT g, did, w, unnest(generate_series(1, len(w))) AS i
            FROM t)
    ),
    fl AS (
      SELECT g, did, i,
             CAST((CAST('0x' || substr(md5('span:'
                 || CAST(did AS VARCHAR) || ':' || CAST(i AS VARCHAR)),
                 1, 8) AS BIGINT) + 0.5) / 4294967296.0 < 0.05
               AS INTEGER) AS start
      FROM toks
    ),
    mk AS (
      SELECT g, did, i, start,
             max(start) OVER (PARTITION BY did ORDER BY i
                              ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
               AS m
      FROM fl
    ),
    h AS (
      SELECT g, did, i, start, m,
             CAST('0x' || substr(md5('mt:' || CAST(did AS VARCHAR)
                 || ':' || CAST(i AS VARCHAR)), 1, 10) AS BIGINT)
               % 1099511627776 AS hk
      FROM mk
    )
    SELECT g AS source,
           CAST(count(DISTINCT did) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(start) AS BIGINT) AS n_spans,
           CAST(sum(m) AS BIGINT) AS n_masked,
           round(CAST(sum(m) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
             AS mask_fraction,
           CAST(CAST(sum(m * hk) AS BIGINT) % 2305843009213693952
                AS BIGINT) AS masked_checksum
    FROM h GROUP BY 1
    """,
)
def ext_span_corruption_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-corruption masking schedule per source
    (ext.text.span_corruption_stats, 5% starts × span 3 ≈ 14% masked):
    the T5/UL2 pretraining objective's data-prep step with md5 replacing
    RNG, certified down to the exact masked-position set via checksum —
    joins ext_doc_chunks / ext_pack_shards in the
    tokenize-and-serve tier."""
    docs = load_table(spark, sf_dir, "documents")
    return TX.span_corruption_stats(docs, "text", "source", "doc_id")


@query(
    "ext_coverage_select",
    oracle=r"""
    WITH
    sh0 AS MATERIALIZED (
      SELECT DISTINCT doc_id AS did,
             w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS w
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w) - 2)) AS i
            FROM (SELECT doc_id,
                         string_split_regex(trim(text), '\s+') AS w
                  FROM documents)
            WHERE len(w) >= 3)
    ),
    cands AS MATERIALIZED (
      SELECT did FROM (
        SELECT did, row_number() OVER (ORDER BY count(*) DESC, did ASC)
                 AS rn
        FROM sh0 GROUP BY did
      ) WHERE rn <= 2000
    ),
    sh AS MATERIALIZED (SELECT s.did, s.w FROM sh0 s JOIN cands USING (did)),
    g1 AS MATERIALIZED (SELECT did, count(*) AS gain FROM sh GROUP BY 1),
    b1 AS MATERIALIZED (SELECT did, gain FROM g1 ORDER BY gain DESC, did ASC LIMIT 1),
    c1 AS MATERIALIZED (SELECT DISTINCT w FROM sh JOIN b1 USING (did)),
    g2 AS MATERIALIZED (
      SELECT s.did, count(*) AS gain
      FROM sh s
      WHERE s.did NOT IN (SELECT did FROM b1)
        AND NOT EXISTS (SELECT 1 FROM c1 x WHERE x.w = s.w)
      GROUP BY 1
    ),
    b2 AS MATERIALIZED (SELECT did, gain FROM g2 ORDER BY gain DESC, did ASC LIMIT 1),
    c2 AS MATERIALIZED (SELECT w FROM c1
             UNION
             SELECT w FROM sh JOIN b2 USING (did)),
    g3 AS MATERIALIZED (
      SELECT s.did, count(*) AS gain
      FROM sh s
      WHERE s.did NOT IN (SELECT did FROM b1 UNION ALL SELECT did FROM b2)
        AND NOT EXISTS (SELECT 1 FROM c2 x WHERE x.w = s.w)
      GROUP BY 1
    ),
    b3 AS MATERIALIZED (SELECT did, gain FROM g3 ORDER BY gain DESC, did ASC LIMIT 1),
    c3 AS MATERIALIZED (SELECT w FROM c2
             UNION
             SELECT w FROM sh JOIN b3 USING (did)),
    g4 AS MATERIALIZED (
      SELECT s.did, count(*) AS gain
      FROM sh s
      WHERE s.did NOT IN (SELECT did FROM b1 UNION ALL SELECT did FROM b2 UNION ALL SELECT did FROM b3)
        AND NOT EXISTS (SELECT 1 FROM c3 x WHERE x.w = s.w)
      GROUP BY 1
    ),
    b4 AS MATERIALIZED (SELECT did, gain FROM g4 ORDER BY gain DESC, did ASC LIMIT 1),
    c4 AS MATERIALIZED (SELECT w FROM c3
             UNION
             SELECT w FROM sh JOIN b4 USING (did)),
    g5 AS MATERIALIZED (
      SELECT s.did, count(*) AS gain
      FROM sh s
      WHERE s.did NOT IN (SELECT did FROM b1 UNION ALL SELECT did FROM b2 UNION ALL SELECT did FROM b3 UNION ALL SELECT did FROM b4)
        AND NOT EXISTS (SELECT 1 FROM c4 x WHERE x.w = s.w)
      GROUP BY 1
    ),
    b5 AS MATERIALIZED (SELECT did, gain FROM g5 ORDER BY gain DESC, did ASC LIMIT 1),
    c5 AS MATERIALIZED (SELECT w FROM c4
             UNION
             SELECT w FROM sh JOIN b5 USING (did))
    SELECT 1 AS round, did AS selected_id,
           CAST(gain AS BIGINT) AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c1) AS covered_total
    FROM b1
    UNION ALL
    SELECT 2 AS round, did AS selected_id,
           CAST(gain AS BIGINT) AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c2) AS covered_total
    FROM b2
    UNION ALL
    SELECT 3 AS round, did AS selected_id,
           CAST(gain AS BIGINT) AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c3) AS covered_total
    FROM b3
    UNION ALL
    SELECT 4 AS round, did AS selected_id,
           CAST(gain AS BIGINT) AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c4) AS covered_total
    FROM b4
    UNION ALL
    SELECT 5 AS round, did AS selected_id,
           CAST(gain AS BIGINT) AS gain,
           (SELECT CAST(count(*) AS BIGINT) FROM c5) AS covered_total
    FROM b5
    """,
)
def ext_coverage_select_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage corpus selection, 5 rounds over the distinct
    (doc, 3-shingle) membership table (ext.text.greedy_coverage_select): the
    submodular data-subsetting primitive — "pick the documents that span
    the most vocabulary" — with a deterministic argmax, certified
    round-by-round (selection, marginal gain, covered total) against a
    fully unrolled SQL replay."""
    docs = load_table(spark, sf_dir, "documents")
    arr = docs.select(
        F.col("doc_id").alias("did"),
        F.split(F.trim(F.col("text")), r"\s+").alias("w"),
    ).filter(F.size("w") >= 3)
    pairs = arr.select(
        "did",
        F.explode(F.sequence(F.lit(1), F.size("w") - 2)).alias("i"),
        "w",
    ).select(
        "did",
        F.concat_ws(
            " ",
            F.element_at("w", F.col("i")),
            F.element_at("w", F.col("i") + 1),
            F.element_at("w", F.col("i") + 2),
        ).alias("w"),
    )
    return TX.greedy_coverage_select(
        pairs, "did", "w", k=5, candidate_pool=2000
    )


@query(
    "ts_pattern_vshape",
    oracle="""
    WITH s AS (
      SELECT user_id AS k, epoch_us(ts) AS tsu, event_id AS eid,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    el AS (SELECT k FROM s GROUP BY 1 HAVING count(*) >= 3),
    steps AS (
      SELECT s.k,
             CAST(sign(CAST(s.v - lag(s.v) OVER w AS DOUBLE))
                  AS INTEGER) AS dir,
             row_number() OVER w AS rn
      FROM s JOIN el ON el.k = s.k
      WINDOW w AS (PARTITION BY s.k ORDER BY s.tsu, s.eid)
    ),
    st AS (SELECT k, dir, rn FROM steps WHERE dir IS NOT NULL),
    marked AS (
      SELECT k, dir,
             sum(CASE WHEN prev IS NULL OR prev <> dir
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY k ORDER BY rn
                     ROWS UNBOUNDED PRECEDING) AS run_id
      FROM (SELECT k, dir, rn,
                   lag(dir) OVER (PARTITION BY k ORDER BY rn) AS prev
            FROM st)
    ),
    runs AS (
      SELECT k, run_id, max(dir) AS dir FROM marked GROUP BY 1, 2
    ),
    vs AS (
      SELECT k,
             CAST(sum(CASE WHEN dir = 1 AND prev = -1
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_v
      FROM (SELECT k, dir,
                   lag(dir) OVER (PARTITION BY k ORDER BY run_id) AS prev
            FROM runs)
      GROUP BY 1
    ),
    pk AS (
      SELECT COALESCE(vs.n_v, 0) AS n_v
      FROM el LEFT JOIN vs ON vs.k = el.k
    )
    SELECT CAST(n_v AS BIGINT) AS n_vshapes,
           CAST(count(*) AS BIGINT) AS n_keys
    FROM pk GROUP BY 1
    """,
)
def ts_vshape_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-pattern matching census (operators.timeseries.
    vshape_pattern_census): V shapes (strict down-run then up-run) in
    each user's purchase-amount sequence — the MATCH_RECOGNIZE shape
    SQL:2016 standardized and Spark lacks, expressed as two windows +
    run compression; output is the per-count histogram so cardinality
    is scale-invariant."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        "user_id",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return TS.vshape_pattern_census(
        ev, "user_id", "ts", "event_id", "cents", min_events=3
    )


_DID_CELL = """(CAST(s2_{g}{p} AS DOUBLE) / CAST(n_{g}{p} AS DOUBLE)
                 - (CAST(s1_{g}{p} AS DOUBLE) / CAST(n_{g}{p} AS DOUBLE))
                   * (CAST(s1_{g}{p} AS DOUBLE)
                      / CAST(n_{g}{p} AS DOUBLE)))
                / (CAST(n_{g}{p} AS DOUBLE) - 1.0)"""
_DID_MEAN = """CAST(s1_{g}{p} AS DOUBLE) / CAST(n_{g}{p} AS DOUBLE)"""


@query(
    "ts_did_estimator",
    oracle=f"""
    WITH base AS (
      SELECT CAST(user_id % 2 AS INTEGER) AS g,
             epoch_us(ts) // 1000000 // 3600 AS h,
             CAST(round(value * 100) AS BIGINT) AS v
      FROM events WHERE event_type = 'purchase'
    ),
    mid AS (SELECT (min(h) + max(h)) // 2 AS m FROM base),
    cells AS (
      SELECT g, CAST(h > m AS INTEGER) AS p, count(*) AS n,
             CAST(sum(v) AS BIGINT) AS s1,
             CAST(sum(v * v) AS BIGINT) AS s2
      FROM base CROSS JOIN mid
      GROUP BY 1, 2
    ),
    m AS (
      SELECT max(CASE WHEN g = 0 AND p = 0 THEN n END) AS n_00,
             max(CASE WHEN g = 0 AND p = 1 THEN n END) AS n_01,
             max(CASE WHEN g = 1 AND p = 0 THEN n END) AS n_10,
             max(CASE WHEN g = 1 AND p = 1 THEN n END) AS n_11,
             max(CASE WHEN g = 0 AND p = 0 THEN s1 END) AS s1_00,
             max(CASE WHEN g = 0 AND p = 1 THEN s1 END) AS s1_01,
             max(CASE WHEN g = 1 AND p = 0 THEN s1 END) AS s1_10,
             max(CASE WHEN g = 1 AND p = 1 THEN s1 END) AS s1_11,
             max(CASE WHEN g = 0 AND p = 0 THEN s2 END) AS s2_00,
             max(CASE WHEN g = 0 AND p = 1 THEN s2 END) AS s2_01,
             max(CASE WHEN g = 1 AND p = 0 THEN s2 END) AS s2_10,
             max(CASE WHEN g = 1 AND p = 1 THEN s2 END) AS s2_11
      FROM cells
    )
    SELECT CAST(n_00 + n_01 + n_10 + n_11 AS BIGINT) AS n,
           round((({_DID_MEAN.format(g=1, p=1)})
                  - ({_DID_MEAN.format(g=1, p=0)})
                  - (({_DID_MEAN.format(g=0, p=1)})
                     - ({_DID_MEAN.format(g=0, p=0)})))
                 / 100.0, 6) + 0.0 AS effect_dollars,
           round(sqrt({_DID_CELL.format(g=1, p=1)}
                      + {_DID_CELL.format(g=1, p=0)}
                      + {_DID_CELL.format(g=0, p=1)}
                      + {_DID_CELL.format(g=0, p=0)})
                 / 100.0, 6) + 0.0 AS se_dollars,
           round((({_DID_MEAN.format(g=1, p=1)})
                  - ({_DID_MEAN.format(g=1, p=0)})
                  - (({_DID_MEAN.format(g=0, p=1)})
                     - ({_DID_MEAN.format(g=0, p=0)})))
                 / sqrt({_DID_CELL.format(g=1, p=1)}
                        + {_DID_CELL.format(g=1, p=0)}
                        + {_DID_CELL.format(g=0, p=1)}
                        + {_DID_CELL.format(g=0, p=0)}), 6) + 0.0 AS z
    FROM m
    """,
)
def ts_did_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences on purchase cents: treatment = user-id
    parity, periods = halves of the event window
    (operators.rankstats.diff_in_diff) — the panel causal estimator next
    to ts_ab_cuped/ts_two_proportion_test; a null effect is the correct
    expectation on synthetic data, which certifies the machinery, not a
    finding."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    ).select(
        (F.col("user_id") % 2).cast("int").alias("g"),
        F.floor(F.col("ts").cast("long") / 3600).cast("bigint").alias("h"),
        F.round(F.col("value") * 100).cast("bigint").alias("v"),
    )
    mid = ev.agg(
        F.floor((F.min("h") + F.max("h")) / 2).cast("bigint").alias("m")
    )
    panel = ev.crossJoin(F.broadcast(mid)).select(
        "g", (F.col("h") > F.col("m")).cast("int").alias("p"), "v"
    )
    return RS.diff_in_diff(panel, "g", "p", "v")


_IND_SQL = """
      SELECT '{cn}' AS child, '{pn}' AS parent,
             (SELECT CAST(count(DISTINCT CAST({cc} AS VARCHAR)) AS BIGINT)
              FROM {ct}) AS n_child_distinct,
             (SELECT CAST(count(*) AS BIGINT) FROM
                (SELECT DISTINCT CAST({cc} AS VARCHAR) AS k FROM {ct}) c
              WHERE EXISTS (SELECT 1 FROM {pt} p
                            WHERE CAST(p.{pc} AS VARCHAR) = c.k))
               AS n_contained,
             round(CAST((SELECT count(*) FROM
                (SELECT DISTINCT CAST({cc} AS VARCHAR) AS k FROM {ct}) c
              WHERE EXISTS (SELECT 1 FROM {pt} p
                            WHERE CAST(p.{pc} AS VARCHAR) = c.k))
                AS DOUBLE)
                / CAST((SELECT count(DISTINCT CAST({cc} AS VARCHAR))
                        FROM {ct}) AS DOUBLE), 6) AS containment"""

_IND_PAIRS = [
    ("orders.o_custkey", "customer.c_custkey", "o_custkey", "orders",
     "c_custkey", "customer"),
    ("lineitem.l_orderkey", "orders.o_orderkey", "l_orderkey", "lineitem",
     "o_orderkey", "orders"),
    ("lineitem.l_partkey", "part.p_partkey", "l_partkey", "lineitem",
     "p_partkey", "part"),
    ("lineitem.l_suppkey", "supplier.s_suppkey", "l_suppkey", "lineitem",
     "s_suppkey", "supplier"),
    ("customer.c_custkey", "orders.o_custkey", "c_custkey", "customer",
     "o_custkey", "orders"),
    ("orders.o_custkey", "supplier.s_suppkey", "o_custkey", "orders",
     "s_suppkey", "supplier"),
]


@query(
    "rel_inclusion_deps",
    oracle="\n      UNION ALL\n".join(
        _IND_SQL.format(cn=cn, pn=pn, cc=cc, ct=ct, pc=pc, pt=pt)
        for cn, pn, cc, ct, pc, pt in _IND_PAIRS
    ),
)
def rel_inclusion_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusion-dependency mining over six candidate column pairs
    (operators.clean.inclusion_dependencies): the four true FKs come
    back containment 1.0, the reversed direction (customers without
    orders) and the nonsense pair (custkey ⊆ suppkey) come back < 1 —
    the discovery half of rel_fk_audit's enforcement half."""
    t = {
        name: load_table(spark, sf_dir, name)
        for name in ("orders", "customer", "lineitem", "part", "supplier")
    }
    pairs = [
        (t[ct], cc, cn, t[pt], pc, pn)
        for cn, pn, cc, ct, pc, pt in _IND_PAIRS
    ]
    from ..operators.clean import inclusion_dependencies

    return inclusion_dependencies(pairs)


@query(
    "rel_bucketed_join",
    oracle="""
    SELECT c_mktsegment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
    FROM orders JOIN customer ON c_custkey = o_custkey
    GROUP BY 1
    """,
)
def rel_bucketed_join_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-free co-located join via bucketing
    (operators.partitioning.bucketed_write): both sides persisted
    bucketBy(8, custkey) into catalog tables, then the join plan reads
    co-bucketed files with NO Exchange on either side (asserted by the
    plan test) — the layout investment a daily-joined 100 TB fact table
    amortizes. The oracle is the plain join: bucketing must be
    semantically transparent, which is exactly what the hash check
    certifies."""
    import os

    from ..operators.partitioning import bucketed_write

    tag = (
        f"{os.path.basename(sf_dir.rstrip('/'))}"
        f"_{spark.sparkContext.applicationId}"
    ).replace("-", "_").replace(".", "_")
    t_o, t_c = f"bj_orders_{tag}", f"bj_customer_{tag}"
    if not spark.catalog.tableExists(t_o):
        bucketed_write(
            load_table(spark, sf_dir, "orders").select(
                "o_custkey",
                F.round(F.col("o_totalprice") * 100)
                .cast("bigint")
                .alias("cents"),
            ),
            t_o,
            8,
            ["o_custkey"],
            sort_cols=["o_custkey"],
        )
    if not spark.catalog.tableExists(t_c):
        bucketed_write(
            load_table(spark, sf_dir, "customer").select(
                "c_custkey", "c_mktsegment"
            ),
            t_c,
            8,
            ["c_custkey"],
            sort_cols=["c_custkey"],
        )
    o = spark.table(t_o)
    c = spark.table(t_c)
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.sum("cents").cast("bigint").alias("revenue_cents"),
        )
    )


@query(
    "ts_markov_entropy",
    oracle="""
    WITH tr AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS a,
             event_type AS b
      FROM events
    ),
    f AS (SELECT a, b FROM tr WHERE a IS NOT NULL),
    cells AS (SELECT a, b, count(*) AS n_ab FROM f GROUP BY 1, 2),
    marg AS (SELECT a, CAST(sum(n_ab) AS BIGINT) AS n_a
             FROM cells GROUP BY 1),
    tot AS (SELECT CAST(sum(n_ab) AS BIGINT) AS n_all FROM cells),
    hr AS (
      SELECT CAST(sum(CAST(round(
               CAST(c.n_ab AS DOUBLE) / CAST(t.n_all AS DOUBLE)
               * ln(CAST(c.n_ab AS DOUBLE) / CAST(m.n_a AS DOUBLE))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS h_s
      FROM cells c JOIN marg m ON m.a = c.a CROSS JOIN tot t
    ),
    hp AS (
      SELECT CAST(count(*) AS BIGINT) AS n_states,
             CAST(sum(CAST(round(
               CAST(n_a AS DOUBLE) / CAST(t.n_all AS DOUBLE)
               * ln(CAST(n_a AS DOUBLE) / CAST(t.n_all AS DOUBLE))
               * 1000000000000.0) AS BIGINT)) AS BIGINT) AS p_s
      FROM marg CROSS JOIN tot t
    )
    SELECT t.n_all AS n_transitions, hp.n_states,
           round(-(CAST(hr.h_s AS DOUBLE)) / 1000000000000.0, 6) + 0.0
             AS h_rate_nats,
           round(-(CAST(hp.p_s AS DOUBLE)) / 1000000000000.0, 6) + 0.0
             AS h_pi_nats,
           round(1.0 - (-(CAST(hr.h_s AS DOUBLE)) / 1000000000000.0)
                       / (-(CAST(hp.p_s AS DOUBLE)) / 1000000000000.0),
                 6) + 0.0 AS predictability
    FROM hr CROSS JOIN hp CROSS JOIN tot t
    """,
)
def ts_markov_entropy_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov entropy rate of per-user event-type sequences
    (operators.timeseries.markov_entropy_rate): how predictable is the
    next event given the current one — the information scalar on top of
    ts_event_transitions' raw matrix and rows_markov_attribution's
    chain; integer-rounded post-ln cell terms, one lag window + count
    rollups."""
    ev = load_table(spark, sf_dir, "events")
    return TS.markov_entropy_rate(
        ev, "user_id", "ts", "event_id", "event_type"
    )


@query(
    "ts_slo_burn_alerts",
    oracle="""
    WITH hourly AS (
      SELECT epoch_us(ts) // 1000000 // 3600 AS h,
             count(*) AS t,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS er
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT h, er AS errors_1h, t AS total_1h,
             CAST(sum(er) OVER w AS BIGINT) AS er_l,
             CAST(sum(t) OVER w AS BIGINT) AS t_l
      FROM hourly
      WINDOW w AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)
    ),
    b AS (
      SELECT h, errors_1h, total_1h,
             (CAST(errors_1h AS DOUBLE) / CAST(total_1h AS DOUBLE))
               / 0.25 AS b1,
             (CAST(er_l AS DOUBLE) / CAST(t_l AS DOUBLE)) / 0.25 AS bl
      FROM s
    )
    SELECT CAST(h AS BIGINT) AS h,
           CAST(errors_1h AS BIGINT) AS errors_1h,
           CAST(total_1h AS BIGINT) AS total_1h,
           round(b1, 6) + 0.0 AS burn_1h,
           round(bl, 6) + 0.0 AS burn_long,
           CASE WHEN b1 > 1.2 AND bl > 1.0 THEN 'page'
                WHEN b1 > 1.0 THEN 'warn' END AS severity
    FROM b
    WHERE (b1 > 1.2 AND bl > 1.0) OR b1 > 1.0
    """,
)
def ts_slo_burn_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerts on the error event stream
    (operators.timeseries.slo_burn_alerts, budget 25%, page = 1h AND 6h
    both burning, warn = 1h alone — the SRE-workbook alert shape):
    alert-hours only in the output, exact counts under deterministic
    threshold comparisons. The operations-monitoring companion to
    ts_seasonal_anomalies/ts_cusum_changepoints."""
    ev = load_table(spark, sf_dir, "events")
    return TS.slo_burn_alerts(
        ev, "ts", F.col("event_type") == "error", budget=0.25
    )


@query(
    "rel_join_cardinality_audit",
    oracle="""
    WITH lc AS (
      SELECT o_custkey AS k, count(*) AS nl FROM orders GROUP BY 1
    ),
    rc AS (
      SELECT l_suppkey % 1000 AS k, count(*) AS nr
      FROM lineitem GROUP BY 1
    ),
    j AS (
      SELECT CAST(sum(lc.nl * rc.nr) AS BIGINT) AS exact_join_rows
      FROM lc JOIN rc ON rc.k = lc.k
    ),
    lm AS (SELECT CAST(sum(nl) AS BIGINT) AS n_left,
                  CAST(count(*) AS BIGINT) AS d_left FROM lc),
    rm AS (SELECT CAST(sum(nr) AS BIGINT) AS n_right,
                  CAST(count(*) AS BIGINT) AS d_right FROM rc)
    SELECT n_left, n_right, d_left, d_right, exact_join_rows,
           round(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
                 / CAST(greatest(d_left, d_right) AS DOUBLE), 2)
             AS independence_est,
           round(CAST(n_left AS DOUBLE) * CAST(n_right AS DOUBLE)
                 / CAST(greatest(d_left, d_right) AS DOUBLE)
                 / CAST(exact_join_rows AS DOUBLE), 6) AS est_over_exact
    FROM lm CROSS JOIN rm CROSS JOIN j
    """,
)
def rel_join_card_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cost-based-optimizer cardinality audit
    (operators.joins.join_cardinality_audit): the exact size of
    orders ⋈ (suppkey-bucketed lineitem) from per-key count tables vs
    the textbook |L|·|R|/max(d) independence estimate — two aggregates
    and a count-table join, never the fact join itself; the skewed
    bucket key makes the estimate visibly off, which is the point."""
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_custkey").alias("lk")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        (F.col("l_suppkey") % 1000).alias("rk")
    )
    return J.join_cardinality_audit(o, li, "lk", "rk")


@query(
    "ts_purged_splits",
    oracle="""
    WITH base AS (
      SELECT ts, ntile(5) OVER (ORDER BY ts, event_id) AS fold FROM events
    ),
    env AS MATERIALIZED (
      SELECT fold, min(ts) AS test_start, max(ts) AS test_end,
             CAST(count(*) AS BIGINT) AS n_test
      FROM base GROUP BY fold
    ),
    stats AS (
      SELECT e.fold, e.test_start, e.test_end, e.n_test,
             CAST(sum(CASE WHEN b.ts < e.test_start - INTERVAL 24 HOURS
                             OR b.ts > e.test_end + INTERVAL 24 HOURS
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
             CAST(count(*) AS BIGINT) AS n_all
      FROM (SELECT ts FROM events) b CROSS JOIN env e
      GROUP BY 1, 2, 3, 4
    )
    SELECT fold, n_test, n_train,
           CAST(n_all - n_test - n_train AS BIGINT) AS n_purged,
           test_start, test_end
    FROM stats
    """,
)
def ts_purged_splits_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Purged k-fold time-series CV census
    (operators.timeseries.purged_time_folds, k=5, 24h embargo; López de
    Prado ch. 7): contiguous equal-count time folds, per-fold train
    counts excluding the fold's embargo envelope, and the purged
    remainder — the leakage-safe splitter an ML-on-time-series pipeline
    needs where plain k-fold silently trains on the test horizon. All
    exact integer counts + fold boundary timestamps."""
    ev = load_table(spark, sf_dir, "events")
    return TS.purged_time_folds(ev, "ts", "event_id", k=5, embargo_hours=24)


@query(
    "ml_cohens_kappa",
    oracle="""
    WITH r AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS a,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS b
      FROM orders
    ),
    g AS (
      SELECT yr, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(a * b) AS BIGINT) AS n11,
             CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
             CAST(sum((1 - a) * b) AS BIGINT) AS n01,
             CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      FROM r GROUP BY yr
    ),
    raw AS (
      SELECT yr, n, n11, n10, n01, n00,
             CAST(n11 + n00 AS DOUBLE) / CAST(n AS DOUBLE) AS po_raw,
             (CAST(n11 + n10 AS DOUBLE) * CAST(n11 + n01 AS DOUBLE)
              + CAST(n01 + n00 AS DOUBLE) * CAST(n10 + n00 AS DOUBLE))
               / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)) AS pe_raw
      FROM g
    )
    SELECT yr, n, n11, n10, n01, n00,
           round(po_raw, 6) AS po, round(pe_raw, 6) AS pe,
           CASE WHEN pe_raw < 1.0
                THEN round((po_raw - pe_raw)
                           / (CAST(1.0 AS DOUBLE) - pe_raw), 6)
           END AS kappa
    FROM raw
    """,
)
def ml_cohens_kappa_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa per order-year between two deterministic binary
    raters — priority-urgency (1-URGENT/2-HIGH) vs fulfillment status
    ('F') — (ml.eval.cohens_kappa): the chance-corrected inter-annotator
    agreement a labeling pipeline reports before trusting its labels,
    closing the agreement gap in the classification-evaluation tier
    (ROC/PR/ECE/Brier measure a scorer against truth; kappa measures two
    LABELERS against each other). Contingency cells and marginals are
    exact integer moments; only the two final divisions are floats."""
    o = load_table(spark, sf_dir, "orders").select(
        F.year("o_orderdate").cast("int").alias("yr"),
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("ra"),
        (F.col("o_orderstatus") == "F").alias("rb"),
    )
    return ME.cohens_kappa(o, "ra", "rb", group_col="yr")
