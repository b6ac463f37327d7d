#!/usr/bin/env python
"""One harness for the scale probes.

A probe family measures one operator family at growing sizes. Each
(size, cell) runs in its own child process and JVM, because same-JVM
back-to-back sizes are not comparable: heap growth and GC from the
first size made the second read 3-5x super-linear (a 200k-then-400k
dedup run), where fresh JVMs measured 10.8 s vs 16.3 s for 2x the docs.

    python scripts/probe.py --list
    python scripts/probe.py FAMILY [--sizes N ...] [--cells C ...]

The parent prints each child's JSON record and then, per cell, the ratio
of every ``*_s`` key between the largest and the smallest size (linear
scaling reads as the size ratio). A child (``--one N CELL``):

- builds its fixtures under /tmp once (``fixture``: rewritten only while
  the ``_SUCCESS`` marker is missing; ``replicate`` makes disjoint
  key-shifted copies of a harness table);
- runs the cell inside ``entry_scope``, and the families clean up
  between their operations the same way;
- times each operation with ``timed``: one unrecorded warm-up, then the
  fastest of ``REPS`` runs;
- stamps the record with cpus, load1 and steal_pct (bench.py's
  environment helpers), because wall time alone cannot carry a claim on
  a host with hypervisor steal.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import math
import os
import subprocess
import sys
import time
from collections import deque
from typing import Callable, NamedTuple

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, HERE)

from bench import _cpu_jiffies, _env_fingerprint, _steal_pct  # noqa: E402

SF_DIR = "/root/testdata/sf0.1"  # the harness tables (TESTDATA.md)
BASE = "/tmp/probe"
REPS = 2
SHIFT = 10**10  # per-copy key offset in replicate(); above every harness key


# --------------------------------------------------------------- runner


def fixture(spark, path: str, build: Callable):
    """Read the parquet fixture at ``path``; write ``build()`` there first
    unless a finished write (its ``_SUCCESS`` marker) is already there."""
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        build().write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def replicate(df, copies: int, shift_cols):
    """``copies`` disjoint replicas of ``df``: copy c adds c·SHIFT to every
    column in ``shift_cols`` and keeps the rest, so each copy has the
    same topology and timestamps and the key count grows c-fold."""
    from pyspark.sql import functions as F

    reps = df.sparkSession.range(copies).select(F.col("id").alias("__copy"))
    return df.crossJoin(reps).select(*[
        (F.col(c) + F.col("__copy") * SHIFT).alias(c) if c in shift_cols else c
        for c in df.columns
    ])


def timed(build: Callable, reps: int = REPS):
    """One unrecorded warm-up run of ``build().count()`` (JIT and
    whole-stage codegen cost 2-5x on a first run), then the fastest of
    ``reps`` runs of ``build().persist().count()``. Between runs the
    result and the operators' hubs are unpersisted, blocking: a rebuilt
    identical plan otherwise hits the CacheManager through plan
    canonicalization, and the "run" times a count over cached rows (a
    200k brute-force top-k once read faster than 20k that way).
    Returns (seconds, the last run's frame, still persisted)."""
    from usedcars_bigdata_spark.operators.window import release_hubs

    build().count()
    release_hubs(blocking=True)
    best, df = math.inf, None
    for i in range(reps):
        if df is not None:
            df.unpersist(blocking=True)
            release_hubs(blocking=True)
        t0 = time.perf_counter()
        df = build().persist()
        df.count()
        best = min(best, time.perf_counter() - t0)
    return round(best, 2), df


def measure(spark, ops: dict) -> dict:
    """``timed`` each op on its own, with ``entry_scope`` cleanup between
    ops; records ``<op>_s`` and the op's row count ``<op>_rows``."""
    from usedcars_bigdata_spark.operators.window import entry_scope

    out = {}
    for key, build in ops.items():
        with entry_scope(spark):
            out[f"{key}_s"], df = timed(build)
            out[f"{key}_rows"] = df.count()
    return out


def run_one(spark, family: str, n: int, cell: str) -> dict:
    """One (size, cell) of a family in this process, stamped with the
    environment. ``spark`` is None for the families that need no JVM."""
    from usedcars_bigdata_spark.operators.window import entry_scope

    j0 = _cpu_jiffies()
    with entry_scope(spark) if spark is not None else contextlib.nullcontext():
        rec = FAMILIES[family].run(spark, n, cell)
    env = _env_fingerprint()
    return {
        "family": family, "n": n, "cell": cell, **rec,
        "cpus": env["cpus"], "load1": env["load1"],
        "steal_pct": _steal_pct(j0, _cpu_jiffies()),
    }


def ratios(records: list[dict]) -> dict[str, dict[str, float]]:
    """Per cell: every ``*_s`` key's ratio between the record at the
    largest size and the one at the smallest (cells with one size are
    left out)."""
    out = {}
    for cell in dict.fromkeys(r["cell"] for r in records):
        rs = sorted((r for r in records if r["cell"] == cell), key=lambda r: r["n"])
        lo, hi = rs[0], rs[-1]
        if lo["n"] == hi["n"]:
            continue
        out[cell] = {
            k: round(hi[k] / max(lo[k], 1e-9), 2)
            for k in lo
            if k.endswith("_s") and k in hi
        }
    return out


# ------------------------------------------------------------- families


def _documents(spark, n_docs: int):
    """~30-word docs from a power-law vocabulary; every 10th doc is a
    near-duplicate of its predecessor (same words, one token edited, so
    Jaccard ≈ 0.87)."""
    from pyspark.sql import functions as F

    def build():
        h = lambda s: F.abs(F.xxhash64(F.lit(s), F.col("base_id"), F.col("w")))  # noqa: E731
        words = (
            spark.range(n_docs)
            .select(
                F.col("id").alias("doc_id"),
                F.when(F.col("id") % 10 == 9, F.col("id") - 1)
                .otherwise(F.col("id")).alias("base_id"),
                (F.col("id") % 10 == 9).alias("is_dup"),
            )
            .select("doc_id", "base_id", "is_dup",
                    F.explode(F.sequence(F.lit(0), F.lit(29))).alias("w"))
            # common words (small ids) appear often
            .withColumn("tok", F.concat(F.lit("w"), (h("v") % (h("z") % 5000 + 50)).cast("string")))
            .withColumn("tok", F.when(F.col("is_dup") & (F.col("w") == 3), F.lit("EDITED"))
                        .otherwise(F.col("tok")))
        )
        return words.groupBy("doc_id").agg(F.concat_ws(" ", F.collect_list("tok")).alias("text"))

    return fixture(spark, f"{BASE}/docs_{n_docs}", build)


def scan(spark, n: int, cell: str) -> dict:
    """Headline scan/aggregate/join/window queries over an n-row
    lineitem-shaped table (sf0.1 has 0.6M rows). Expected: time grows at
    most linearly with rows (scan-bound, overhead-dominated at small n),
    with the same plans at every size."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.operators.window import top_k_per_group

    def build():
        h = lambda s: F.abs(F.xxhash64(F.lit(s), F.col("id")))  # noqa: E731
        return spark.range(n).select(
            (F.col("id") % 1_500_000).alias("l_orderkey"),
            (h("pk") % 200_000).alias("l_partkey"),
            (h("sk") % 10_000).alias("l_suppkey"),
            (h("ln") % 7).cast("int").alias("l_linenumber"),
            (1 + (h("qty") % 50)).cast("double").alias("l_quantity"),
            (1000 + (h("px") % 100_000) / 1.0).alias("l_extendedprice"),
            ((h("disc") % 11) / 100.0).alias("l_discount"),
            ((h("tax") % 9) / 100.0).alias("l_tax"),
            F.element_at(F.array(F.lit("A"), F.lit("N"), F.lit("R")),
                         (h("rf") % 3 + 1).cast("int")).alias("l_returnflag"),
            F.element_at(F.array(F.lit("O"), F.lit("F")),
                         (h("ls") % 2 + 1).cast("int")).alias("l_linestatus"),
            F.timestamp_seconds(F.lit(788_918_400) + (h("sd") % 220_000_000)).alias("l_shipdate"),
        )

    li = fixture(spark, f"{BASE}/lineitem_{n}", build)
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return measure(spark, {
        "tpch_q1": lambda: (
            li.filter(F.col("l_shipdate") <= F.lit("2001-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.sum(disc), F.avg("l_discount"), F.count("*"))
        ),
        "group_topk": lambda: (
            li.groupBy("l_partkey").agg(F.sum(disc).alias("rev"))
            .orderBy(F.col("rev").desc(), "l_partkey").limit(10)
        ),
        "window_rank": lambda: top_k_per_group(
            li.select("l_returnflag", "l_orderkey", "l_linenumber", "l_extendedprice"),
            ["l_returnflag"],
            [F.col("l_extendedprice").desc(), F.col("l_orderkey"), F.col("l_linenumber")],
            3,
        ),
        "distinct_orders": lambda: (
            li.groupBy("l_returnflag").agg(F.countDistinct("l_orderkey"))
        ),
    })


def dedup(spark, n: int, cell: str) -> dict:
    """MinHash/LSH near-dup path and LSH-fed clustering over n documents
    with ~10% planted near-duplicates (sf0.1 has 5k). Expected: time
    tracks shingle volume and candidate count, about linear; the
    quadratic exact-Jaccard tier is what this path avoids."""
    from usedcars_bigdata_spark.ext import dedup as D

    docs = _documents(spark, n)
    return measure(spark, {
        "exact_dedup": lambda: D.exact_dedup_stats(docs, "doc_id", "text"),
        "minhash": lambda: D.minhash_near_dupes(docs, "doc_id", "text", threshold=0.5),
        "clusters": lambda: D.near_dup_clusters(docs, "doc_id", "text", threshold=0.5)
        .filter("is_canonical"),
        "dup_gram_fraction": lambda: D.duplicated_gram_fraction(docs, "doc_id", "text"),
    })


def corpus(spark, n: int, cell: str) -> dict:
    """Corpus operators over the dedup family's documents. Expected:
    chunking, entropy and weighted sampling are shuffle-free or top-k
    (linear in input bytes); the inverted index and TF-IDF shuffle
    (token, doc) rows with map-side combines (near-linear in tokens); the
    quota cap is one rank-window shuffle on the group key; edit-distance
    candidates track prefix-bucket collisions, not n²."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ext import dedup as X
    from usedcars_bigdata_spark.ext import text as TX

    docs = (
        _documents(spark, n)
        .withColumn("grp", (F.col("doc_id") % 20).cast("string"))
        .withColumn("w8", F.length("text").cast("double"))
    )
    return measure(spark, {
        "inverted_index": lambda: TX.inverted_index(docs, "doc_id", "text",
                                                    postings_cap=10, min_docs=2),
        "tfidf_topk": lambda: TX.tfidf_top_terms(docs, "doc_id", "text", k=3),
        "chunking": lambda: TX.chunk_documents(docs, "doc_id", "text"),
        "weighted_sample": lambda: TX.weighted_sample(docs, "doc_id", "w8", k=100),
        "group_cap": lambda: TX.group_cap_sample(docs, "doc_id", "grp", cap=100),
        "char_entropy": lambda: TX.char_entropy(docs, "doc_id", "text"),
        "edit_distance": lambda: X.edit_distance_pairs(docs, "doc_id", "text", max_dist=40),
        "overlap_pairs": lambda: X.overlap_pairs(
            X.word_shingles(docs, "doc_id", "text", n=3, hashed=True),
            "doc_id", threshold=0.8,
        ),
        "dup_spans": lambda: X.duplicated_spans(docs, "doc_id", "text"),
        "remove_dup_spans": lambda: X.remove_duplicated_spans(docs, "doc_id", "text"),
        "line_dedup": lambda: TX.line_dedup(docs, "doc_id", "text", sep=" "),
    })


def graph(spark, n: int, cell: str) -> dict:
    """Pair and graph operators over n baskets of 4-8 items (lineitems ≈
    6n) from a part pool that grows with √n, so pair density per part
    rises like a real catalog. Expected: co-purchase and PageRank scale
    with edge count (Σ basket² per order), the bigram gate with total
    tokens, rolling active keys with user-hours × window."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ext import text as TX
    from usedcars_bigdata_spark.operators.graph import pagerank_unrolled
    from usedcars_bigdata_spark.operators.timeseries import rolling_active_keys

    pool = max(100, int(math.sqrt(n) * 20))
    items = fixture(spark, f"{BASE}/baskets_{n}", lambda: (
        spark.range(n)
        .select(F.col("id").alias("o"),
                F.explode(F.sequence(F.lit(1), F.pmod(F.xxhash64("id"), F.lit(5)) + 4)).alias("slot"))
        .select("o", F.pmod(F.xxhash64("o", "slot"), F.lit(pool)).alias("p"))
    )).distinct()
    docs = items.groupBy("o").agg(
        F.concat_ws(" ", F.collect_list(F.concat(F.lit("w"), F.col("p")))).alias("text")
    ).withColumnRenamed("o", "doc_id")
    events = items.select(
        F.pmod("o", F.lit(max(50, n // 500))).alias("user_id"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000)
                           + F.pmod(F.xxhash64("o", "p"), F.lit(72)) * 3_600_000_000).alias("ts"),
    )
    a = items.select("o", F.col("p").alias("src"))
    b = items.select(F.col("o").alias("o2"), F.col("p").alias("dst"))

    def copurchase():
        pa = items.select("o", F.col("p").alias("pa"))
        pb = items.select(F.col("o").alias("o2"), F.col("p").alias("pb"))
        return (pa.join(pb, (pa.o == pb.o2) & (F.col("pa") < F.col("pb")))
                .groupBy("pa", "pb").agg(F.count("*").alias("n")).filter(F.col("n") >= 2))

    return measure(spark, {
        "copurchase": copurchase,
        "pagerank_3iter": lambda: pagerank_unrolled(
            a.join(b, (a.o == b.o2) & (F.col("src") != F.col("dst"))).select("src", "dst"),
            "src", "dst",
        ),
        "bigram_lm": lambda: TX.bigram_logprob_score(docs, "doc_id", "text"),
        "rolling_active": lambda: rolling_active_keys(events, "user_id", "ts"),
    })


def analytics(spark, n: int, cell: str) -> dict:
    """Skyline, gap interpolation, entity resolution and BPE with the
    distributions held fixed as n grows. Expected: skyline about linear
    (frontier grows ~log n, cost is two window passes); interpolation
    about linear (fixed 72-hour × 8-key grid, only the pre-aggregate
    sees n); entity resolution and BPE strongly sub-linear (the
    representative graph and the word table are vocabulary-bounded)."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ext.dedup import resolve_entities
    from usedcars_bigdata_spark.ext.text import bpe_merges
    from usedcars_bigdata_spark.operators.sort import pareto_frontier_2d
    from usedcars_bigdata_spark.operators.timeseries import interpolate_linear

    def hashed(salt, mod):
        return F.pmod(F.xxhash64("id", F.lit(salt)), F.lit(mod))

    rows = spark.range(n)
    points = rows.select("id", F.concat(F.lit("g"), hashed(1, 8)).alias("grp"),
                         hashed(2, 100_000).alias("cost"), hashed(3, 100_000).alias("gain"))
    events = rows.select(
        "id", F.concat(F.lit("t"), hashed(4, 8)).alias("key"),
        F.timestamp_micros(F.lit(1_700_000_000_000_000) + hashed(5, 72 * 3600) * 1_000_000).alias("ts"),
        (hashed(6, 10_000) / 100.0).alias("value"),
    )
    records = rows.select("id", F.concat(F.lit("b"), hashed(7, 50)).alias("blk"),
                          F.concat(F.lit("prod_"), hashed(8, 500)).alias("name"))
    docs = spark.range(n // 10).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(" ", *[F.concat(F.lit("w"), hashed(100 + i, 200)) for i in range(12)]).alias("text"),
    )
    return measure(spark, {
        "skyline": lambda: pareto_frontier_2d(points, "cost", "gain", group_cols=["grp"]),
        "interpolate": lambda: interpolate_linear(events, "ts", "key", "value"),
        "entity_resolution": lambda: resolve_entities(records, "id", "name", ["blk"], max_dist=4),
        "bpe_8_merges": lambda: bpe_merges(docs, "text", n_merges=8),
    })


def ann(spark, n: int, cell: str) -> dict:
    """Brute-force, hyperplane-LSH, IVF and IVFPQ cosine top-10 for 50
    queries over n clustered 64-d embeddings (sf0.1 has 2k), each
    approximate tier sized by its documented rule. Expected: brute wall
    tracks n (the O(N·Q) tier you leave at scale); LSH and IVF grow
    sub-linearly; recall@10 holds on clustered geometry."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ext import similarity as SIM

    dim, n_clusters, k, n_queries = 64, 64, 10, 50

    def build():
        df = spark.range(n).select(F.col("id").alias("vec_id"),
                                   (F.col("id") % n_clusters).cast("int").alias("label"))
        # centroid coords in [-1, 1], ±0.4 noise per dim: clusters stay
        # separated (inter-centroid L2 ≈ 6.5 vs noise norm ≈ 1.85) while
        # within-cluster order carries more signal than PQ's quantization
        # error (at ±0.05 every ADC distance in a cell tied)
        dims = [
            (F.pmod(F.xxhash64(F.lit("cent"), F.col("label"), F.lit(d)), F.lit(2001)) / 1000.0 - 1.0
             + F.pmod(F.xxhash64(F.lit("noise"), F.col("vec_id"), F.lit(d)), F.lit(801)) / 1000.0
             - 0.4).cast("float")
            for d in range(dim)
        ]
        return df.select("vec_id", "label", F.array(*dims).alias("embedding"))

    corpus = fixture(spark, f"{BASE}/emb_{n}", build).persist()
    corpus.count()
    queries = corpus.filter(F.col("vec_id") % (n // n_queries) == 0).limit(n_queries).persist()
    queries.count()

    def recall(got_df, truth_df) -> float:
        sets = []
        for df in (got_df, truth_df):
            s: dict = {}
            for r in df.collect():
                s.setdefault(r["query_id"], set()).add(r["neighbor_id"])
            sets.append(s)
        got, truth = sets
        total = sum(len(t) for t in truth.values())
        hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
        return round(hits / total, 4) if total else 0.0

    bits = max(4, int(math.log2(n / 500)))
    n_centroids = max(16, int(math.sqrt(n)))
    out: dict = {"lsh_bits": bits, "ivf_centroids": n_centroids}
    out["brute_s"], truth = timed(lambda: SIM.brute_force_topk(corpus, queries, k=k))
    assert truth.count() == n_queries * k
    out["lsh_s"], lsh = timed(lambda: SIM.hyperplane_lsh_topk(
        corpus, queries, k=k, bits=bits, tables=8))
    out["lsh_recall"] = recall(lsh, truth)
    out["ivf_s"], ivf = timed(lambda: SIM.ivf_topk(
        corpus, queries, k=k, n_centroids=n_centroids, n_probe=8))
    out["ivf_recall"] = recall(ivf, truth)
    # FAISS-shaped IVFPQ (256-code byte codebooks over 8 subspaces), refine
    # left at its auto default, which sizes the rerank budget to the pool
    out["ivfpq_s"], ivfpq = timed(lambda: SIM.ivfpq_topk(
        corpus, queries, k=k, n_centroids=n_centroids, n_probe=8,
        m_subspaces=8, n_codes=256))
    out["ivfpq_recall"] = recall(ivfpq, truth)
    return out


def _size_dist(sizes_df, col: str) -> dict:
    from pyspark.sql import functions as F

    q = sizes_df.approxQuantile(col, [0.5, 0.9, 0.99], 0.001)
    return {"p50": q[0], "p90": q[1], "p99": q[2],
            "max": sizes_df.agg(F.max(col)).first()[0]}


def _er_records(spark, n: int, hot_rows: int):
    """Part-shaped records (rid, brand, line, name): brand × line blocks
    average ≈ 6 rows, except one planted ('HOT', 'HOT') block of
    ``hot_rows``; ~17% of names are a 1-char variant of the block's."""
    from pyspark.sql import functions as F

    def build():
        h = lambda s: F.abs(F.xxhash64(F.lit(s), F.col("id")))  # noqa: E731
        n_brands = max(1, n // 42)
        hot = F.col("id") < hot_rows
        return spark.range(n).select(
            F.col("id").alias("rid"),
            F.when(hot, F.lit("HOT")).otherwise(
                F.concat(F.lit("b"), (h("brand") % n_brands).cast("string"))).alias("brand"),
            F.when(hot, F.lit("HOT")).otherwise(
                F.concat(F.lit("l"), (h("line") % 7).cast("string"))).alias("line"),
            F.concat(F.lit("name-"), (h("brand") % n_brands).cast("string"), F.lit("-"),
                     F.when(F.col("id") % 6 == 5, F.lit("x"))
                     .otherwise((h("suffix") % 3).cast("string"))).alias("name"),
        )

    return fixture(spark, f"{BASE}/er_recs_{n}", build)


def dedup_er(spark, n: int, cell: str) -> dict:
    """The dedup/ER circuit breakers at n× harness scale with planted
    degenerate keys: ``lsh`` over 5,000·n docs (one byte-identical hot
    class lands in one bucket per band), ``er`` and ``em`` over 20,000·n
    part-shaped records (one planted hot block). Expected: minhash time
    about linear and kept bucket sizes flat; blocked ER sub-linear; the
    max_bucket / max_block breakers drop exactly the planted key; the EM
    pattern table stays ≤ 2^J rows whatever the corpus size."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.ext import dedup as D

    if cell == "lsh":
        n_docs, max_bucket = 5_000 * n, 500
        # always above the cap, so the breaker fires at every size
        n_hot = max(2 * max_bucket, n_docs // 250)
        docs = _documents(spark, n_docs).withColumn("text", F.when(
            F.col("doc_id") < n_hot,
            F.lit("hot degenerate boilerplate page about nothing repeated verbatim"),
        ).otherwise(F.col("text")))
        out: dict = {"n_docs": n_docs, "n_hot": n_hot}
        out["minhash_capped_s"], pairs = timed(lambda: D.minhash_near_dupes(
            docs, "doc_id", "text", threshold=0.5, max_bucket=max_bucket))
        out["n_pairs"] = pairs.count()
        sigs = D.minhash_signatures(D.word_shingles(docs, "doc_id", "text", n=3), "doc_id")
        stats = D.lsh_bucket_stats(sigs, "doc_id", max_bucket=max_bucket).collect()
        out["bands"] = [{k: r[k] for k in ("n_buckets", "n_skipped_buckets", "max_bucket_size")}
                        for r in stats]
        assert all(r["n_skipped_buckets"] >= 1 for r in stats), (
            "planted degenerate bucket was NOT caught by max_bucket in every band"
        )
        assert all(r["max_bucket_size"] >= n_hot for r in stats)
        out["kept_bucket_sizes"] = _size_dist(
            D.band_keys(sigs, "doc_id", bands=4).groupBy("band", "sig")
            .agg(F.count(F.lit(1)).alias("n"))
            .filter((F.col("n") >= 2) & (F.col("n") <= max_bucket)),
            "n",
        )
        return out

    n_recs, max_block = 20_000 * n, 1000
    hot_rows = 20_000 if n_recs >= 1_000_000 else 2_000
    recs = _er_records(spark, n_recs, hot_rows)
    out = {"n_records": n_recs, "hot_rows": hot_rows}
    if cell == "er":
        stats = D.er_block_stats(recs, ["brand", "line"], max_block=max_block).first()
        out["blocks"] = {k: stats[k] for k in (
            "n_blocks", "n_dropped_blocks", "n_dropped_rows", "max_block_size", "n_candidate_pairs")}
        assert stats["n_dropped_blocks"] == 1, "exactly the planted hot block drops"
        assert stats["n_dropped_rows"] == hot_rows
        assert stats["max_block_size"] == hot_rows
        out["kept_block_sizes"] = _size_dist(
            recs.groupBy("brand", "line").agg(F.count(F.lit(1)).alias("n"))
            .filter(F.col("n") <= max_block),
            "n",
        )
        out["blocked_er_s"], pairs = timed(lambda: D.blocked_er_pairs(
            recs, "rid", "name", ["brand", "line"], max_dist=2, max_block=max_block))
        out["n_pairs"] = pairs.count()
        return out

    assert cell == "em", cell
    # Within a block names differ only in the last char, so exact name
    # agreement is the bimodal field; two derived fields make J = 3.
    recs = (recs.withColumn("ln", (F.col("rid") % 2).cast("string"))
            .withColumn("par", (F.col("rid") % 3).cast("string")))
    fields = [("name", "exact"), ("ln", "exact"), ("par", "exact")]
    out["pattern_collapse_s"], patt = timed(lambda: D.fs_agreement_patterns(
        recs, "rid", ["brand", "line"], fields, max_block=max_block))
    rows = patt.collect()
    out["pattern_rows"] = len(rows)
    out["n_pairs"] = int(sum(r["n"] for r in rows))
    assert len(rows) <= 2 ** len(fields), (
        f"pattern table exceeded sufficient-statistics bound: {len(rows)}"
    )
    out["em_fit_s"], fit = timed(lambda: D.fs_em_weights(
        recs, "rid", ["brand", "line"], fields, iterations=5, max_block=max_block))
    out["fitted"] = {r["field"]: (r["m"], r["u"]) for r in fit.collect()}
    m, u = out["fitted"]["name"]
    assert m > u, f"EM failed to separate m/u on the planted variants: {m} <= {u}"
    return out


def join_skew(spark, n: int, cell: str) -> dict:
    """An n-row fact table with 90% of rows on key 0, joined N:1 to a
    10k-row dim, by strategy: ``smj_aqe`` (sort-merge, AQE skew split on,
    broadcast off), ``smj_noskew`` (skew split off too), ``salted``
    (salted_join, 16 buckets) and ``broadcast``. Every cell asserts the
    same output and hot-key counts before walls compare. Expected:
    broadcast flat in the hot key; smj_noskew bound by the one hot task."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.operators.partitioning import salted_join

    n_keys = 10_000
    fact = fixture(spark, f"{BASE}/join_fact90_{n}", lambda: spark.range(n).select(
        "id",
        F.when(F.pmod("id", 10) < 9, F.lit(0))
        .otherwise(F.pmod(F.xxhash64("id"), F.lit(n_keys))).cast("long").alias("k"),
        (F.pmod(F.xxhash64("id", F.lit(7)), 1000) / 10.0).alias("v"),
    ))
    dim = fixture(spark, f"{BASE}/join_dim_{n_keys}", lambda: spark.range(n_keys).select(
        F.col("id").alias("k"), F.concat(F.lit("seg"), F.pmod("id", 7)).alias("segment"),
    ))
    if cell != "broadcast":
        # AQE stays on for salted: the salt must win with the optimizer's help
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    if cell == "smj_noskew":
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")

    def joined():
        if cell == "salted":
            return salted_join(fact, dim, "k", buckets=16)
        if cell == "broadcast":
            return fact.join(F.broadcast(dim), "k")
        return fact.join(dim, "k")

    wall, out = timed(joined)
    rows_out = out.count()
    hot = out.filter(F.col("k") == 0).count()
    assert rows_out == n, f"join must be N:1-complete: {rows_out} != {n}"
    assert hot >= int(n * 0.89), f"hot key underweight: {hot}"
    return {"wall_s": wall, "rows_out": rows_out, "hot_rows": hot}


def _edges(spark, copies: int):
    """The sf0.1 co-purchase graph (parts sharing an order), ``copies``
    disjoint replicas: c× the edges and nodes, the same topology."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.sources import load_table

    def build():
        items = load_table(spark, SF_DIR, "lineitem").select("l_orderkey", "l_partkey").distinct()
        base = items.alias("a").join(
            items.alias("b"),
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") != F.col("b.l_partkey")),
        ).select(F.col("a.l_partkey").alias("src"), F.col("b.l_partkey").alias("dst"))
        return replicate(base, copies, ["src", "dst"])

    return fixture(spark, f"{BASE}/pagerank_edges_{copies}x", build)


def pagerank(spark, n: int, cell: str) -> dict:
    """pagerank_unrolled over the co-purchase graph replicated n× (100×
    is 240M edge rows), at ``cell`` shuffle partitions. At 100× and 32
    partitions the per-task hash-aggregate pages turn humongous under G1
    (GCLocker retry warnings in the child's stderr); 256 partitions
    (8 per core) ran clean at the same wall. Expected: time linear in
    edges."""
    from usedcars_bigdata_spark.operators.graph import pagerank_unrolled

    spark.conf.set("spark.sql.shuffle.partitions", cell)
    edges = _edges(spark, n)
    out = {"edges": edges.count()}
    out["wall_s"], ranks = timed(lambda: pagerank_unrolled(edges, "src", "dst"), reps=1)
    out["nodes_out"] = ranks.count()
    return out


def twopass(spark, n: int, cell: str) -> dict:
    """Two-pass window operators over sf0.1 orders replicated n× (100× is
    15M rows). Cells ``32`` / ``256`` are n_buckets for
    distributed_row_number (with per-bucket skew vs the even share) and
    global_doubled_midrank_map; ``grouped`` / ``grouped_hot`` compare
    grouped_running_sums / grouped_lag (n_buckets 64) with the plain
    per-key window, the hot form putting 90% of rows on one key, and pin
    identical checksums across strategies. Expected: time linear in rows,
    skew bounded by the range partitioner's sampling."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.operators.rankstats import global_doubled_midrank_map
    from usedcars_bigdata_spark.operators.window import (
        distributed_row_number,
        entry_scope,
        grouped_lag,
        grouped_running_sums,
    )
    from usedcars_bigdata_spark.sources import load_table

    df = fixture(spark, f"{BASE}/twopass_orders_{n}x", lambda: replicate(
        load_table(spark, SF_DIR, "orders").select("o_orderkey", "o_custkey", "o_totalprice"),
        n, ["o_orderkey", "o_custkey"],
    ))

    def checked(frame, **aggs):
        """Time one strategy with its checksum aggregate; returns (s, row)."""
        with entry_scope(spark):
            wall, res = timed(lambda: frame().agg(*[c.alias(k) for k, c in aggs.items()]))
            return wall, res.first()

    if cell.startswith("grouped"):
        df = df.select("o_orderkey", "o_custkey",
                       F.round(F.col("o_totalprice") * 100).cast("bigint").alias("cents"))
        if cell == "grouped_hot":
            df = df.withColumn("o_custkey", F.when(F.col("o_orderkey") % 10 != 0, F.lit(0))
                               .otherwise(F.col("o_custkey")))
        df = df.localCheckpoint(eager=True)  # fixture build stays out of the timings
        rows = df.count()
        by_key = Window.partitionBy("o_custkey").orderBy("o_orderkey")
        out: dict = {"rows": rows}
        for label, frame in (
            ("grouped_running_sums", lambda: grouped_running_sums(
                df, ["o_custkey"], [F.col("o_orderkey").asc()], ["cents"], ["rs"], n_buckets=64)),
            ("window_running_sum", lambda: df.withColumn("rs", F.sum("cents").over(
                by_key.rowsBetween(Window.unboundedPreceding, 0)))),
            ("grouped_lag", lambda: grouped_lag(
                df, ["o_custkey"], ["o_orderkey"], "cents", "rs", n_buckets=64)),
            ("window_lag", lambda: df.withColumn("rs", F.lag("cents").over(by_key))),
        ):
            out[f"{label}_s"], r = checked(
                frame, n=F.count(F.lit(1)),
                chk=F.sum(F.hash("o_orderkey", "rs").cast("bigint")))
            assert r.n == rows
            out[f"{label}_chk"] = r.chk
        assert out["grouped_running_sums_chk"] == out["window_running_sum_chk"]
        assert out["grouped_lag_chk"] == out["window_lag_chk"]
        return out

    n_buckets = int(cell)
    rows = df.count()
    order = [F.col("o_totalprice").asc(), F.col("o_orderkey").asc()]
    out = {"rows": rows}
    out["row_number_s"], r = checked(
        lambda: distributed_row_number(df, order, "rn", n_buckets=n_buckets),
        n=F.count(F.lit(1)), max_rn=F.max("rn"),
        chk=F.sum(F.hash("rn", "o_orderkey").cast("bigint")))
    assert r.n == rows and r.max_rn == rows, r
    out["row_number_chk"] = r.chk
    # the range buckets' sizes, re-derived; skew is against the EVEN share
    # (n / n_buckets), which empty buckets cannot understate
    sizes = [x.c for x in df.repartitionByRange(n_buckets, *order)
             .groupBy(F.spark_partition_id().alias("b")).agg(F.count(F.lit(1)).alias("c"))
             .collect()]
    out["buckets_used"] = len(sizes)
    out["max_over_even_share"] = round(max(sizes) / (rows / n_buckets), 2)
    out["midrank_s"], r = checked(
        lambda: global_doubled_midrank_map(
            df.select(F.col("o_totalprice").alias("v")), "v", n_buckets=n_buckets),
        nv=F.count(F.lit(1)), sum_t=F.sum("t"), max_r2=F.max("r2"))
    assert r.sum_t == rows, r
    out["midrank_distinct"], out["midrank_max_r2"] = r.nv, r.max_r2
    return out


def _state_summary(query) -> dict:
    rows = mem = 0
    progress = [json.loads(p.json) for p in query.recentProgress]
    for p in progress:
        for op in p.get("stateOperators", []):
            rows = max(rows, op.get("numRowsTotal", 0))
            mem = max(mem, op.get("memoryUsedBytes", 0))
    return {"batches": len(progress), "state_rows_max": rows, "state_mb_max": round(mem / 1e6, 1)}


def _events(spark, copies: int, hot: bool):
    """A file stream over sf0.1 events replicated with disjoint user and
    event ids at unchanged timestamps (copies× concurrent keys inside the
    same watermark horizon). ``hot`` remaps every even event_id to user
    0, so one key's state task receives half the stream."""
    from pyspark.sql import functions as F

    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.events import read_event_stream

    path = f"{BASE}/stream_events_{copies}x/events.parquet"
    fixture(spark, path, lambda: replicate(
        load_table(spark, SF_DIR, "events"), copies, ["event_id", "user_id"]))
    stream = read_event_stream(spark, path, glob="*.parquet", max_files_per_trigger=8)
    if hot:
        stream = stream.withColumn("user_id", F.when(F.col("event_id") % 2 == 0, F.lit(0))
                                   .otherwise(F.col("user_id")))
    return stream


def _fresh_dir(tag: str) -> str:
    import shutil

    root = f"{BASE}/stream_{tag}"
    shutil.rmtree(root, ignore_errors=True)
    return root


def _to_parquet(spark, out_df, tag: str) -> dict:
    """Run ``out_df`` through run_stream with a foreachBatch parquet
    append: a memory sink collects every output row to the driver, and
    the 100× agg's ~9.5M rows exceeded spark.driver.maxResultSize."""
    from usedcars_bigdata_spark.streaming.events import run_stream

    root = _fresh_dir(tag)
    t0 = time.perf_counter()
    q = run_stream(out_df, f"probe_{tag}", checkpoint=f"{root}/ck",
                   foreach_batch=lambda b, _: b.write.mode("append").parquet(f"{root}/out"))
    wall = time.perf_counter() - t0
    return {"wall_s": round(wall, 1), "rows_out": spark.read.parquet(f"{root}/out").count(),
            **_state_summary(q)}


def _foreach_batch(spark, start, tag: str) -> dict:
    """Drain a foreachBatch query that writes state/ and out/ parquet."""
    root = _fresh_dir(tag)
    t0 = time.perf_counter()
    q = start(state_dir=f"{root}/state", out_dir=f"{root}/out",
              checkpoint=f"{root}/ck", query_name=f"probe_{tag}")
    wall = time.perf_counter() - t0
    return {"wall_s": round(wall, 1), "batches": len(q.recentProgress),
            "state_rows": spark.read.parquet(f"{root}/state").count(),
            "rows_out": spark.read.parquet(f"{root}/out").count()}


def stream(spark, n: int, cell: str) -> dict:
    """Stateful streams over n× replicated sources, measuring wall,
    micro-batches and state size. Cells: ``join`` (click→purchase
    interval join), ``neardup`` (MinHash bucket state over documents at
    constant vocabulary, claimed vocabulary-bounded), ``agg`` (hourly
    per-user watermarked aggregate), ``anomaly`` (applyInPandasWithState
    per-user tracker), ``anomaly2`` (its hot-key-neutral foreachBatch
    rewrite). Qualifiers after ``:`` — ``hot`` (planted hot key) and
    ``rocksdb`` (RocksDB state store), e.g. ``agg:hot``. Expected: state
    rows grow with keys, not events; anomaly2 under a hot key within
    ~1.5× of the unskewed cell."""
    from pyspark.sql import functions as F

    which, *quals = cell.split(":")
    hot = "hot" in quals
    tag = f"{which}_{n}x_{int(hot)}"
    if "rocksdb" in quals:
        from usedcars_bigdata_spark.streaming.statestore import ROCKSDB_PROVIDER

        spark.conf.set("spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER)

    if which == "join":
        from usedcars_bigdata_spark.streaming.events import run_stream
        from usedcars_bigdata_spark.streaming.joins import clicks_to_purchases

        events = _events(spark, n, hot)
        joined = clicks_to_purchases(
            events.filter(F.col("event_type") == "click"),
            events.filter(F.col("event_type") == "purchase"),
            max_gap="1 hour", watermark="2 hours",
        )
        t0 = time.perf_counter()
        q = run_stream(joined, f"probe_{tag}")
        wall = time.perf_counter() - t0
        return {"wall_s": round(wall, 1), "rows_out": spark.table(f"probe_{tag}").count(),
                **_state_summary(q)}
    if which == "agg":
        # state rows = users × active hours, the axis the replicas grow
        agg = (_events(spark, n, hot).withWatermark("ts", "2 hours")
               .groupBy(F.window("ts", "1 hour").alias("w"), "user_id")
               .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("v"))
               .select("w.start", "user_id", "n", "v"))
        return _to_parquet(spark, agg, tag)
    if which == "anomaly":
        from usedcars_bigdata_spark.streaming.stateful import running_anomaly_flags

        return _to_parquet(spark, running_anomaly_flags(_events(spark, n, hot)), tag)
    if which == "anomaly2":
        from usedcars_bigdata_spark.streaming.stateful import running_anomaly_flags_scalable

        events = _events(spark, n, hot)
        return _foreach_batch(
            spark, lambda **kw: running_anomaly_flags_scalable(events, **kw), tag)

    assert which == "neardup", cell
    from usedcars_bigdata_spark.sources import load_table
    from usedcars_bigdata_spark.streaming.dedup import streaming_near_dup_flags
    from usedcars_bigdata_spark.streaming.events import write_replay_source

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    dmax = docs.agg(F.max("doc_id")).first()[0] + 1
    big = replicate(docs, n, ["doc_id"])
    base_id = F.col("doc_id") % SHIFT
    # three files, one per trigger: each a third of every copy's ids
    src = write_replay_source(f"{BASE}/stream_docs_{n}x", [
        big.filter((base_id >= lo) & (base_id < hi)).coalesce(1)
        for lo, hi in ((0, dmax // 3), (dmax // 3, 2 * dmax // 3), (2 * dmax // 3, dmax))
    ])
    docs_stream = (spark.readStream.schema("doc_id long, text string")
                   .option("maxFilesPerTrigger", 1).option("pathGlobFilter", "*.parquet")
                   .parquet(src))
    out = _foreach_batch(
        spark, lambda **kw: streaming_near_dup_flags(docs_stream, **kw), tag)
    out["bucket_state_rows"] = out.pop("state_rows")
    return out


SMOOTHER_STEPS = 50


def _smoother_batch(n_keys: int):
    import numpy as np
    import pandas as pd

    rng = np.random.RandomState(7)
    keys = np.repeat([f"k{i:06d}" for i in range(n_keys)], SMOOTHER_STEPS)
    return pd.DataFrame({"k": keys, "x": rng.uniform(0, 100, n_keys * SMOOTHER_STEPS)})


# The per-row loops of the first Holt / Holt-Winters kernels, kept as
# the bitwise-parity reference for the segment-vectorized forms.
def scalar_holt(pdf, alpha=0.5, beta=0.5):
    import numpy as np

    keys = pdf["k"].to_numpy()
    x = pdf["x"].to_numpy(dtype="float64")
    n = len(x)
    level = np.empty(n)
    trend = np.empty(n)
    carry = {}
    for i in range(n):
        k = keys[i]
        st = carry.get(k)
        if st is None:
            lv, tr = x[i], 0.0
        else:
            plv, tr = st
            lv = alpha * x[i] + (1 - alpha) * (plv + tr)
            tr = beta * (lv - plv) + (1 - beta) * tr
        level[i], trend[i] = lv, tr
        carry[k] = (lv, tr)
    return level, trend


def scalar_hw(pdf, season=24, alpha=0.5, beta=0.5, gamma=0.5):
    import numpy as np

    keys = pdf["k"].to_numpy()
    x = pdf["x"].to_numpy(dtype="float64")
    n = len(x)
    level = np.empty(n)
    trend = np.empty(n)
    seas = np.empty(n)
    carry = {}
    for i in range(n):
        k = keys[i]
        st = carry.get(k)
        if st is None:
            lv, tr, r = x[i], 0.0, 1
            hist = deque(maxlen=season)
            s_used = 0.0
        else:
            lv, tr, r, hist = st
            r += 1
            s_used = hist[0] if r > season else 0.0
            new_lv = alpha * (x[i] - s_used) + (1 - alpha) * (lv + tr)
            tr = beta * (new_lv - lv) + (1 - beta) * tr
            lv = new_lv
        s_new = gamma * (x[i] - lv) + (1 - gamma) * s_used
        hist.append(s_new)
        level[i], trend[i], seas[i] = lv, tr, s_new
        carry[k] = [lv, tr, r, hist]
    return level, trend, seas


def _segments(pdf):
    """(x, first row of each key run, run lengths) of a key-sorted batch."""
    import numpy as np

    keys = pdf["k"].to_numpy()
    x = pdf["x"].to_numpy(dtype="float64")
    change = np.empty(len(x), dtype=bool)
    change[0] = True
    change[1:] = keys[1:] != keys[:-1]
    first_idx = np.flatnonzero(change)
    return x, first_idx, np.diff(np.append(first_idx, len(x)))


def vector_holt(pdf, alpha=0.5, beta=0.5):
    import numpy as np

    x, first_idx, counts = _segments(pdf)
    lv = np.zeros(len(first_idx))
    tr = np.zeros(len(first_idx))
    level = np.empty(len(x))
    trend = np.empty(len(x))
    for t in range(int(counts.max())):
        act = np.flatnonzero(counts > t)
        ridx = first_idx[act] + t
        xt = x[ridx]
        lv_a = lv[act]
        new_lv = alpha * xt + (1 - alpha) * (lv_a + tr[act])
        new_tr = beta * (new_lv - lv_a) + (1 - beta) * tr[act]
        if t == 0:  # every key starts fresh in this batch
            new_lv = xt
            new_tr = np.zeros_like(xt)
        lv[act] = new_lv
        tr[act] = new_tr
        level[ridx] = new_lv
        trend[ridx] = new_tr
    return level, trend


def vector_hw(pdf, season=24, alpha=0.5, beta=0.5, gamma=0.5):
    import numpy as np

    x, first_idx, counts = _segments(pdf)
    lv = np.zeros(len(first_idx))
    tr = np.zeros(len(first_idx))
    ring = np.zeros((len(first_idx), season))
    level = np.empty(len(x))
    trend = np.empty(len(x))
    seas = np.empty(len(x))
    for t in range(int(counts.max())):
        act = np.flatnonzero(counts > t)
        ridx = first_idx[act] + t
        xt = x[ridx]
        r_now = t + 1  # every key starts fresh in this batch
        p = (r_now - 1) % season
        s_used = ring[act, p] if r_now > season else np.zeros_like(xt)
        lv_a = lv[act]
        new_lv = alpha * (xt - s_used) + (1 - alpha) * (lv_a + tr[act])
        new_tr = beta * (new_lv - lv_a) + (1 - beta) * tr[act]
        if t == 0:
            new_lv = xt
            new_tr = np.zeros_like(xt)
        s_new = gamma * (xt - new_lv) + (1 - gamma) * s_used
        lv[act] = new_lv
        tr[act] = new_tr
        ring[act, p] = s_new
        level[ridx] = new_lv
        trend[ridx] = new_tr
        seas[ridx] = s_new
    return level, trend, seas


def smoother(_spark, n: int, cell: str) -> dict:
    """Python-side throughput of the Holt (``holt``) and Holt-Winters
    (``holt_winters``) batch kernels on one sorted batch of n keys × 50
    steps, per-row loop vs segment-vectorized form — pure pandas/numpy,
    so the number is the per-core bound a mapInPandas stage sees after
    Arrow transfer. Both outputs must be bitwise equal. Expected: both
    linear in rows; the vectorized form an order of magnitude faster."""
    import numpy as np

    scalar, vector = {"holt": (scalar_holt, vector_holt),
                      "holt_winters": (scalar_hw, vector_hw)}[cell]
    pdf = _smoother_batch(n)

    def best_of_3(fn):
        best = math.inf
        for _ in range(3):
            t0 = time.perf_counter()
            out = fn(pdf)
            best = min(best, time.perf_counter() - t0)
        return best, out

    ts, so = best_of_3(scalar)
    tv, vo = best_of_3(vector)
    assert all(np.array_equal(a, b) for a, b in zip(so, vo)), f"{cell} parity"
    rows = len(pdf)
    return {"rows": rows, "scalar_s": round(ts, 4), "vector_s": round(tv, 4),
            "scalar_mrows_per_sec": round(rows / ts / 1e6, 2),
            "vector_mrows_per_sec": round(rows / tv / 1e6, 2), "speedup": round(ts / tv, 1)}


class Family(NamedTuple):
    sizes: tuple[int, ...]
    cells: tuple[str, ...]
    run: Callable[..., dict]
    jvm: bool = True


FAMILIES: dict[str, Family] = {
    "scan": Family((6_000_000, 60_000_000), ("all",), scan),
    "dedup": Family((200_000, 800_000), ("all",), dedup),
    "corpus": Family((200_000, 800_000), ("all",), corpus),
    "graph": Family((15_000, 60_000), ("all",), graph),
    "analytics": Family((100_000, 400_000), ("all",), analytics),
    "ann": Family((20_000, 200_000), ("all",), ann),
    "dedup_er": Family((10, 100), ("lsh", "er", "em"), dedup_er),
    "join_skew": Family((2_000_000, 20_000_000),
                        ("smj_aqe", "smj_noskew", "salted", "broadcast"), join_skew),
    "pagerank": Family((10, 100), ("32", "256"), pagerank),
    "twopass": Family((10, 100), ("32", "256", "grouped", "grouped_hot"), twopass),
    "stream": Family((1, 10), ("join", "neardup", "agg", "anomaly", "anomaly2"), stream),
    "smoother": Family((2_000, 20_000), ("holt", "holt_winters"), smoother, jvm=False),
}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("family", nargs="?", choices=FAMILIES)
    ap.add_argument("--sizes", type=int, nargs="+", help="default: the family's")
    ap.add_argument("--cells", nargs="+", help="default: the family's")
    ap.add_argument("--list", action="store_true", help="name every family")
    ap.add_argument("--one", nargs=2, metavar=("N", "CELL"), help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    if args.list:
        for name, fam in FAMILIES.items():
            print(f"{name:10s} sizes {' '.join(map(str, fam.sizes))}  cells {' '.join(fam.cells)}")
        return 0
    if args.family is None:
        ap.error("FAMILY is required")
    fam = FAMILIES[args.family]

    if args.one:  # child: one (size, cell), one JSON line
        n, cell = int(args.one[0]), args.one[1]
        spark = None
        if fam.jvm:
            from usedcars_bigdata_spark.session import get_session

            spark = get_session(app_name=f"probe-{args.family}-{n}-{cell}",
                                extra_conf={"spark.ui.showConsoleProgress": "false"})
            spark.sparkContext.setLogLevel("ERROR")
        print(json.dumps(run_one(spark, args.family, n, cell)), flush=True)
        return 0

    sizes = sorted(args.sizes or fam.sizes)
    records = []
    for n in sizes:
        for cell in args.cells or fam.cells:
            proc = subprocess.run(
                [sys.executable, os.path.abspath(__file__), args.family, "--one", str(n), cell],
                stdout=subprocess.PIPE, text=True,
            )
            if proc.returncode:
                print(f"{args.family} n={n} cell={cell} failed (exit {proc.returncode})")
                return proc.returncode
            records.append(json.loads(proc.stdout.strip().splitlines()[-1]))
            print(json.dumps(records[-1]), flush=True)
    for cell, rs in ratios(records).items():
        print(f"{cell}: {sizes[-1] / sizes[0]:g}x size -> "
              + ", ".join(f"{k} {v:.2f}x" for k, v in rs.items()))
    return 0


if __name__ == "__main__":
    sys.exit(main())
