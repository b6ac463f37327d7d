"""Similarity search over an ``array<float>`` embedding column.

- ``brute_force_topk``: exact cosine top-k of a (small, broadcast) query set
  against the full corpus. O(|Q|·N) dot products, fully JVM-side via
  higher-order functions; the correctness baseline.
- ``hyperplane_lsh_topk``: random-hyperplane (sign) LSH — corpus and queries
  are bucketed by a b-bit sign signature; candidates share a bucket (multi-
  probe over any of ``tables`` independent signatures). Approximate; recall
  vs brute force is property-tested. The 100 TB path: bucket join instead of
  cross product.

Hyperplanes are generated from a fixed seed on the driver and shipped as
literal arrays — deterministic across runs/layouts.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import dot, l2_norm, sq_dist


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Exact top-k by cosine. ``queries`` must be small (broadcast). Ranking
    uses the full-precision score with the neighbor id as tie-break; the
    reported score is rounded for cross-engine comparability.

    L2 norms are projected ONCE per side before the cross join, so each of
    the O(|Q|·N) pair rows evaluates a single dot-product fold instead of
    three (dot + both norms) — measured ~2.5× on the pair-scoring stage."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", ndigits).alias("cosine"))
    )


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    if not 1 <= bits <= 63:
        # bit b packs as 1<<b into a signed long; at bits=64 numpy's
        # weight table wraps NEGATIVE silently (verified: 1<<63 → int64
        # min) and signatures collide wrongly with no error. 63 sign
        # bits is far past any useful selectivity anyway (2^63 buckets).
        raise ValueError(f"bits must be in [1, 63] to pack into a long, got {bits}")
    rng = np.random.RandomState(seed)
    return rng.randn(tables, bits, dim)


def _probe_dim(df: DataFrame, vec_col: str) -> int:
    """Embedding width as the MAJORITY width of the FULL non-NULL column
    (ties → larger width). History: probing the literal first row
    returned d = -1 (sizeOfNull) on a NULL leading embedding (r9 review);
    probing the first NON-NULL row still let a single anomalous-width
    leading vector set the corpus dim and _valid_vectors then dropped
    nearly everything — the same defect class the r9 ADVICE flagged in
    _representative_sample's rows[0] anchor (r10 sweep). The vote counts
    the FULL column, not a limit() sample: an unordered limit feeds
    whichever partitions answer first, so on a near-even width split the
    inferred dim — and therefore which rows _valid_vectors keeps — could
    differ between runs (r10 ADVICE). One narrow size() scan + a
    ≤#distinct-widths shuffle is the price of a deterministic answer,
    and every caller is about to scan the vector column in full anyway."""
    rows = (
        df.filter(F.col(vec_col).isNotNull())
        .select(F.size(vec_col).alias("d"))
        .groupBy("d")
        .count()
        .collect()
    )
    if not rows:
        return 0
    return max(rows, key=lambda r: (r["count"], r["d"]))["d"]


def _valid_vectors(df: DataFrame, vec_col: str, dim: int) -> DataFrame:
    """Arrow-batch hygiene shared by every vectorized path: np.stack
    needs a fixed-width batch, so ONE NULL or ragged-width embedding
    aborted the whole job deep inside a pandas UDF while the native
    brute-force baseline degraded gracefully (NULL cosine sorts out of
    every top-k). Filtering the malformed rows makes the approximate
    tiers degrade the same way the exact tier does (r9 review)."""
    return df.filter(
        F.col(vec_col).isNotNull() & (F.size(vec_col) == dim)
    )


def _signatures_udf(planes: np.ndarray):
    """Arrow-batched pandas UDF computing ALL table signatures per vector
    in one BLAS matmul: (batch × dim) @ (dim × tables·bits) → signs →
    bit-packed long per table. The native fold form evaluates
    tables×bits interpreted per-element lambdas per row (measured ~2.4s
    for 2000×64 at 32 planes); the matmul batch is milliseconds — this is
    the case the guide's 'vectorized Pandas UDF beats per-row by 10-100×'
    points at. Deterministic: fixed planes, fixed fp order within BLAS
    for a given batch width.

    Defined over literal plane VALUES captured by value (cloudpickle), so
    executors need no repo on PYTHONPATH."""
    from pyspark.sql.functions import pandas_udf

    tables, bits, dim = planes.shape
    flat = planes.reshape(tables * bits, dim).T.copy()  # dim × (tables·bits)
    weights = (1 << np.arange(bits)).astype(np.int64)

    @pandas_udf("array<long>")
    def sigs(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)  # batch × dim
        signbits = (mat @ flat) >= 0  # batch × tables·bits
        packed = signbits.reshape(len(mat), tables, bits).astype(_np.int64) @ weights
        return pd.Series(list(packed))

    return sigs


def hyperplane_lsh_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
    ndigits: int = 6,
) -> DataFrame:
    """Approximate top-k: equi-join on (table, signature) buckets, exact
    cosine only within candidates (~N/2^bits per table — the cross product
    never materializes). Collision prob per table is (1-θ/π)^bits, so size
    ``bits`` to the corpus's similarity structure: tightly-clustered
    embeddings tolerate long signatures (high selectivity); weakly-similar
    corpora (e.g. random-ish vectors, top-neighbor cosine ~0.3) need short
    signatures + more tables — hence the b=4/t=8 defaults."""
    if dim is None:
        dim = _probe_dim(corpus, vec_col)
    planes = _hyperplanes(dim, bits, tables, seed)
    sig_fn = _signatures_udf(planes)

    def with_sigs(df: DataFrame, idal: str, vecal: str, nal: str) -> DataFrame:
        df = _valid_vectors(df, vec_col, dim)
        renamed = df.select(
            F.col(id_col).alias(idal),
            F.col(vec_col).alias(vecal),
            l2_norm(vec_col).alias(nal),  # norm once per vector, not per pair
        )
        return renamed.withColumn("__sigs", sig_fn(F.col(vecal))).select(
            idal, vecal, nal, F.posexplode("__sigs").alias("tbl", "sig")
        )

    cb = with_sigs(corpus, "neighbor_id", "c_vec", "__cn")
    qb = with_sigs(queries, "query_id", "q_vec", "__qn")
    # Score BEFORE deduplicating, then collapse multi-table collisions with
    # a grouped max over (query_id, neighbor_id): the duplicate cosines are
    # identical, and the shuffle then carries only ids + one double. The
    # previous .distinct() on candidate ROWS shuffled and hashed both full
    # embedding arrays per row — measured 2.1x slower end-to-end at sf0.1.
    scored = (
        cb.join(F.broadcast(qb), on=["tbl", "sig"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn")))
        .groupBy("query_id", "neighbor_id")
        .agg(F.max("cos").alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", ndigits).alias("cosine"))
    )


def embedding_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    bits: int = 4,
    tables: int = 8,
    seed: int = 42,
    exact: bool = False,
    ndigits: int = 6,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection: unordered (id_a < id_b)
    pairs with cosine ≥ threshold. Default path reuses the hyperplane-LSH
    buckets for candidate generation (near-dups almost always share sign
    signatures at high thresholds); ``exact=True`` does the O(N²/2) self
    join — the oracle-checkable form for correctness runs."""
    e = embeddings.select(F.col(id_col), F.col(vec_col))
    if exact:
        a = e.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            l2_norm(vec_col).alias("__na"),
        )
        b = e.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            l2_norm(vec_col).alias("__nb"),
        )
        # Inequality join: without a hint Spark plans a CartesianProduct
        # with |parts(a)|·|parts(b)| tasks. The exact path is for
        # correctness-scale corpora, so broadcast one side →
        # BroadcastNestedLoopJoin with |parts(a)| tasks. Norms projected
        # per side, so each of the N²/2 pairs pays one fold, not three.
        scored = (
            a.join(F.broadcast(b), F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot("va", "vb") / (F.col("__na") * F.col("__nb")))
        )
        return scored.filter(F.col("cos") >= threshold).select(
            "id_a", "id_b", F.round("cos", ndigits).alias("cosine")
        )
    else:
        if dim is None:
            # Hyperplanes must match the embedding width — zip_with against
            # a wrong-width plane folds to NULL and every signature
            # degenerates to one bucket (silent O(N²)). One-row probe.
            dim = _probe_dim(e, vec_col)
        planes = _hyperplanes(dim, bits, tables, seed)
        sig_fn = _signatures_udf(planes)
        # localCheckpoint: both self-join sides consume this frame — the
        # lazy form re-executed the Arrow signature UDF + norm fold over
        # the full corpus once per side (the image_near_dupes double-scan
        # class; r9 review)
        bucketed = (
            _valid_vectors(e, vec_col, dim)
            .select(F.col(id_col), F.col(vec_col), l2_norm(vec_col).alias("__n"))
            .withColumn("__sigs", sig_fn(F.col(vec_col)))
            .select(id_col, vec_col, "__n", F.posexplode("__sigs").alias("tbl", "sig"))
            .localCheckpoint(eager=True)
        )
        a = bucketed.select(
            F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
            F.col("__n").alias("__na"), "tbl", "sig",
        )
        b = bucketed.select(
            F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
            F.col("__n").alias("__nb"), "tbl", "sig",
        )
        # score-then-group (see hyperplane_lsh_topk): collapsing multi-table
        # collisions AFTER the cheap cosine keeps embedding arrays out of
        # the dedup shuffle
        scored = (
            a.join(b, on=["tbl", "sig"])
            .filter(F.col("id_a") < F.col("id_b"))
            .withColumn("cos", dot("va", "vb") / (F.col("__na") * F.col("__nb")))
            .groupBy("id_a", "id_b")
            .agg(F.max("cos").alias("cos"))
        )
        return scored.filter(F.col("cos") >= threshold).select(
            "id_a", "id_b", F.round("cos", ndigits).alias("cosine")
        )


def _representative_sample(
    df: DataFrame, id_col: str, vec_col: str, cap: int, seed: int = 42
) -> np.ndarray:
    """Collect a corpus-representative vector sample of ~``cap`` rows for
    driver-side quantizer/basis fitting.

    A bare ``limit(cap)`` takes whichever partitions answer first — the
    corpus's FIRST file(s). At 100 TB with time- or source-ordered layout
    that sample is one crawl segment: centroids overfit it, cells skew,
    and recall collapses on the rest of the corpus. Two-stage fix, fully
    deterministic and layout/ordering-independent:

    1. hash-gate on the id (``pmod(xxhash64(id, seed), p) == 0`` with p
       sized from a count so ~4·cap rows survive) — a uniform stratum
       drawn across the WHOLE corpus in one narrow pass;
    2. rank the small survivor set by an independent hash and take the
       top ``cap`` (TakeOrderedAndProject over ~4·cap rows — a plain
       ``limit`` here would re-introduce head bias within the stratum,
       and ranking the corpus directly would funnel partitions×cap rows
       through the final top-k task).

    The count is metadata-cheap on parquet sources; everything else
    touches ~4·cap rows. NULL embeddings are excluded up front and any
    ragged-width stragglers are dropped post-collect (np.stack needs a
    fixed-width sample; r9 review)."""
    df = df.filter(F.col(vec_col).isNotNull())
    n = df.count()
    p = max(1, n // (4 * max(cap, 1)))  # expected survivors ≈ 4·cap
    gated = df.select(F.col(id_col), F.col(vec_col))
    if p > 1:
        gated = gated.filter(
            F.pmod(F.xxhash64(F.col(id_col), F.lit(seed)), F.lit(p)) == 0
        )
    picked = gated.orderBy(F.xxhash64(F.col(id_col), F.lit(seed + 1)))
    rows = picked.select(vec_col).limit(cap).toPandas()[vec_col].to_numpy()
    if len(rows) == 0:  # degenerate hash luck on tiny inputs — ungated fallback
        rows = df.select(vec_col).limit(cap).toPandas()[vec_col].to_numpy()
    if len(rows) == 0:
        # empty corpus: fail with the real cause, not an opaque
        # np.stack 'need at least one array' five calls deep (r9 review)
        raise ValueError(
            "cannot fit a quantizer/basis on an empty corpus "
            f"(no rows with a {vec_col} vector)"
        )
    # Anchor the ragged-width filter on the MAJORITY width, not rows[0]
    # (r9 ADVICE): if the first sampled vector happened to be an
    # anomalous-width outlier, the quantizer/basis trained on the outlier
    # dimension and _valid_vectors then silently dropped nearly the whole
    # corpus. Ties break to the larger width for determinism.
    from collections import Counter

    counts = Counter(len(r) for r in rows)
    want = max(counts.items(), key=lambda kv: (kv[1], kv[0]))[0]
    rows = [r for r in rows if len(r) == want]
    return np.stack(rows).astype(np.float64)


def _fit_kmeans(sample: np.ndarray, k: int, max_iter: int, seed: int) -> np.ndarray:
    """Seeded k-means++ init + Lloyd iterations over an in-memory sample.
    Deterministic for a given (sample, k, max_iter, seed). The sample is
    bounded (``train_cap`` rows), so this is a constant-time driver-side
    step regardless of corpus size — FAISS trains its coarse quantizer
    exactly this way rather than running distributed EM over the corpus."""
    rng = np.random.default_rng(seed)
    n = len(sample)
    k = min(k, n)
    # k-means++ init with an INCREMENTAL nearest-center distance: each new
    # center costs one (n × dim) pass and an elementwise min against the
    # running D². The previous form rebuilt the full (n × centers × dim)
    # broadcast-difference tensor EVERY step — O(k²·n·dim) flops plus a
    # fresh multi-hundred-MB temporary per step, measured 105s at the
    # sqrt(N) sizing rule's k=141 on the 4096-row training cap (the r10
    # ANN 100× probe caught it; k=16 default hid it). Same draws: the
    # per-center distance uses the identical elementwise expression, and
    # min is exact, so d2 — and every rng.choice probability — is
    # bit-identical to the old form.
    cents = sample[rng.integers(n)][None, :]
    d2 = ((sample - cents[0]) ** 2).sum(-1)
    for _ in range(k - 1):  # k-means++: sample next center ∝ D²
        tot = d2.sum()
        if tot <= 0:
            nxt = sample[rng.integers(n)]
        else:
            nxt = sample[rng.choice(n, p=d2 / tot)]
        cents = np.vstack([cents, nxt])
        d2 = np.minimum(d2, ((sample - nxt) ** 2).sum(-1))
    for _ in range(max_iter):
        d = (sample**2).sum(1)[:, None] - 2 * sample @ cents.T + (cents**2).sum(1)[None, :]
        lab = d.argmin(axis=1)
        new = np.vstack(
            [sample[lab == j].mean(axis=0) if (lab == j).any() else cents[j] for j in range(k)]
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def _assign_cells_udf(cents: np.ndarray):
    """Arrow-batched pandas UDF: nearest-centroid (Euclidean) cell id per
    vector via one matmul per batch — same vectorized-over-Arrow rationale
    as ``_signatures_udf``. Centroid VALUES are captured by value, so
    executors need no repo on PYTHONPATH."""
    from pyspark.sql.functions import pandas_udf

    c2 = (cents**2).sum(1)

    @pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)
        d = -2.0 * (mat @ cents.T) + c2[None, :]  # ||x||² constant per row
        return pd.Series(d.argmin(axis=1).astype("int32"))

    return assign


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    ndigits: int = 6,
    train_cap: int = 4096,
    max_iter: int = 8,
) -> DataFrame:
    """IVF (inverted-file) ANN: k-means coarse quantizer partitions the
    corpus into ``n_centroids`` cells; each query scans only its ``n_probe``
    nearest cells. The classic FAISS-style scale path: candidate count ~
    N·n_probe/n_centroids, and the cell assignment is a bounded broadcast
    (centroid table is tiny).

    The quantizer is fit DRIVER-SIDE on at most ``train_cap`` collected
    vectors (seeded numpy k-means++, ``max_iter`` Lloyd rounds) — FAISS
    practice: a coarse quantizer needs only a representative sample, and
    a distributed fit would pay an O(corpus) job per iteration plus JVM
    ML pipeline overhead (measured: ~2s of the round-2 IVF bench entry
    was the Spark-ML KMeans fit alone at 2k vectors). Cell ASSIGNMENT
    still covers every corpus vector, vectorized as one Arrow-batched
    matmul per batch, so index build is one pass over the data with a
    constant-size broadcast. The training sample is hash-gated across the
    whole corpus (``_representative_sample``), not the first partitions,
    so the quantizer stays representative under ordered storage layouts."""
    sample = _representative_sample(corpus, id_col, vec_col, train_cap, seed)
    cents = _fit_kmeans(sample, n_centroids, max_iter, seed)
    assign_fn = _assign_cells_udf(cents)
    dim = cents.shape[1]

    assigned = _valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("__cn"),  # norm once per vector
        assign_fn(F.col(vec_col)).alias("__cell"),
    )

    # Centroid table as a broadcast DATAFRAME, not inline literals: the
    # earlier F.array-of-struct-of-lit form embedded n_centroids × dim
    # literal expressions in the plan, and Catalyst/codegen compile time
    # exploded with the index size — measured 62s END-TO-END at 20k
    # vectors / 141 centroids (the sqrt(N) sizing rule) where execution
    # is milliseconds; the r10 ANN 100× probe caught it. A 256-row
    # createDataFrame broadcast carries the same geometry with a
    # constant-size plan (scripts/probe.py ann: 62s → ~3s at the same size).
    cents_df = F.broadcast(
        corpus.sparkSession.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
            "__cc int, cvec array<double>",
        )
    )
    q = _valid_vectors(queries, vec_col, dim).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("__qn"),
    )
    # rank centroids per query by RAW-SPACE Euclidean distance — the same
    # geometry _assign_cells_udf placed corpus rows with, so probe and
    # assignment cannot diverge when corpus norms vary (round-5 advice:
    # a cosine probe against Euclidean-assigned cells loses recall)
    qc = (
        q.crossJoin(cents_df)
        .withColumn("cell_d2", sq_dist("q_vec", F.col("cvec")))
        .select("query_id", "q_vec", "__qn", F.col("__cc").alias("__cell"), "cell_d2")
    )
    wq = Window.partitionBy("query_id").orderBy(
        F.col("cell_d2").asc(), F.col("__cell").asc()
    )
    probed = qc.withColumn("__pr", F.row_number().over(wq)).filter(
        F.col("__pr") <= n_probe
    ).select("query_id", "q_vec", "__qn", "__cell")
    cands = (
        assigned.join(F.broadcast(probed), on="__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neighbor_id").asc())
    return (
        cands.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", F.round("cos", ndigits).alias("cosine"))
    )


def quantize_int8(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Symmetric int8 quantization of an embedding column — the standard
    4× storage/bandwidth reduction before ANN serving or shipping vectors
    to a feature store. Per vector: ``scale = max(|x|)/127``,
    ``q_i = round(x_i / scale)`` ∈ [-127, 127]; zero vectors quantize to
    zeros with scale 0.

    Entirely native higher-order functions (one narrow projection, zero
    shuffles) in double precision so the oracle can replay it. Output
    keeps the int8 array plus exact-integer audit columns (sum / L1) —
    integers survive cross-engine hashing where float roundtrip error
    metrics would flap in the last ulp.

    Output: (id, n_dims, scale, q, sum_q, l1_q)."""
    v = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    max_abs = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = max_abs / F.lit(127.0)
    q = F.when(max_abs == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
        F.transform(v, lambda x: F.round(x / scale).cast("int"))
    )
    return embeddings.select(
        F.col(id_col),
        F.size(vec_col).alias("n_dims"),
        F.round(scale, ndigits).alias("scale"),
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("sum_q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("l1_q"),
    )


def norm_stats_by_label(
    embeddings: DataFrame, label_col: str = "label", vec_col: str = "embedding"
) -> DataFrame:
    """Per-label embedding diagnostics (L2 norm distribution)."""
    norms = embeddings.withColumn("norm", l2_norm(vec_col))
    return norms.groupBy(label_col).agg(
        F.count("*").alias("n"),
        F.round(F.avg("norm"), 6).alias("avg_norm"),
        F.round(F.min("norm"), 6).alias("min_norm"),
        F.round(F.max("norm"), 6).alias("max_norm"),
    )


def semantic_dedup(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_clusters: int = 32,
    threshold: float = 0.9,
    seed: int = 42,
    train_cap: int = 4096,
    max_iter: int = 8,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster embeddings with a k-means coarse quantizer,
    then inside each cluster drop every item that has a LOWER-id neighbor
    with cosine >= ``threshold``. The cluster stage bounds the pair search
    to within-cell candidates — cost ~ sum(|cell|²) instead of N² — which
    is the paper's core trick and the same cell structure ``ivf_topk``
    uses; the min-id survivor rule is the deterministic greedy stand-in
    for "keep one exemplar per ε-ball" (a doc is dropped iff ANY smaller
    id sits within ε, whether or not that neighbor itself survived —
    transitive chains collapse to the smallest id, matching
    ``near_dup_clusters``' canonical-survivor convention).

    Quantizer fit is driver-side on a bounded sample (see ``_fit_kmeans``)
    and assignment is one Arrow-batched matmul per batch, so the whole op
    is: one narrow pass (assign) + one self-join co-partitioned on the
    cell id. Rows-only in the contract (centroids are data-dependent, so
    no static SQL oracle); properties are pytest-verified against a numpy
    brute-force recompute.

    Output: (id, cell, kept) — every input row, survivors marked. The
    quantizer's training sample is hash-gated corpus-wide
    (``_representative_sample``), not first-partitions-first."""
    sample = _representative_sample(embeddings, id_col, vec_col, train_cap, seed)
    cents = _fit_kmeans(sample, n_clusters, max_iter, seed)
    assign_fn = _assign_cells_udf(cents)
    # localCheckpoint: this frame feeds BOTH self-join sides AND the
    # final kept-flag join — the lazy form ran the cell-assignment UDF
    # + norm fold over the full corpus three times (r9 review). Rows
    # without a valid width-matched embedding are excluded (Arrow-batch
    # hygiene, _valid_vectors).
    assigned = (
        _valid_vectors(embeddings, vec_col, cents.shape[1])
        .select(
            F.col(id_col),
            F.col(vec_col),
            l2_norm(vec_col).alias("__n"),
            assign_fn(F.col(vec_col)).alias("cell"),
        )
        .localCheckpoint(eager=True)
    )
    a = assigned.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("va"),
        F.col("__n").alias("__na"), "cell",
    )
    b = assigned.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("vb"),
        F.col("__n").alias("__nb"), "cell",
    )
    dropped = (
        a.join(b, on="cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(dot("va", "vb") / (F.col("__na") * F.col("__nb")) >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return (
        assigned.join(dropped.withColumn("__drop", F.lit(True)), on=id_col, how="left")
        .select(
            F.col(id_col),
            F.col("cell"),
            F.coalesce(~F.col("__drop"), F.lit(True)).alias("kept"),
        )
    )


def pca_project(
    embeddings: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 16,
    train_cap: int = 4096,
    ndigits: int = 6,
) -> DataFrame:
    """PCA dimensionality reduction for the embedding column — the
    standard pre-ANN compression step (project to the top-k principal
    directions, then index/search in k dims instead of d).

    Same execution shape as the IVF quantizer: the basis is fit
    DRIVER-SIDE by SVD of a bounded centered sample (deterministic up to
    sign, which is pinned by forcing each component's largest-magnitude
    loading positive — the sklearn svd_flip convention), then the
    projection is one Arrow-batched matmul per batch over the full
    corpus. No distributed covariance pass, no JVM ML pipeline: fit cost
    is constant in corpus size, projection is a single narrow pass.

    Rows-only in the contract (the basis is data-dependent, so no static
    SQL oracle); variance ordering, reconstruction, and determinism are
    property-tested.

    Output: (id, z) with z = round((x - mean) @ components.T, ndigits).
    The SVD basis is fit on a hash-gated corpus-wide sample
    (``_representative_sample``), not the first partitions."""
    from pyspark.sql.functions import pandas_udf

    sample = _representative_sample(embeddings, id_col, vec_col, train_cap)
    mean = sample.mean(axis=0)
    _, _, vt = np.linalg.svd(sample - mean, full_matrices=False)
    comps = vt[:k]
    flip = np.sign(comps[np.arange(len(comps)), np.abs(comps).argmax(axis=1)])
    flip[flip == 0] = 1.0
    comps = comps * flip[:, None]
    basis = comps.T.copy()  # dim × k

    @pandas_udf("array<double>")
    def project(vecs: pd.Series) -> pd.Series:
        import numpy as _np

        mat = _np.stack(vecs.to_numpy()).astype(_np.float64)
        z = _np.round((mat - mean) @ basis, ndigits)
        return pd.Series(list(z))

    return _valid_vectors(embeddings, vec_col, basis.shape[0]).select(
        F.col(id_col), project(F.col(vec_col)).alias("z")
    )


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    ndigits: int = 6,
) -> DataFrame:
    """Contrastive-training hard-negative mining: per query, the k most
    cosine-similar corpus items whose LABEL DIFFERS — the items a
    contrastive loss learns the most from (InfoNCE/DPR-style negatives
    that are semantically close but class-distinct; random negatives are
    trivially separable and carry little gradient).

    Same plan as brute_force_topk (hoisted norms, broadcast queries, one
    window) plus the label-mismatch filter applied BEFORE ranking, so the
    top-k is over negatives only — a post-rank filter would under-fill k
    whenever same-label items dominate the neighborhood. At corpus scale
    the same bucketed variants (LSH/IVF) drop in as the candidate source,
    mining then being candidates ∩ label-mismatch.

    Output: (query_id, query_label, neighbor_id, neighbor_label, rank,
    cosine)."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(label_col).alias("query_label"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("__qn"),
    )
    c = corpus.select(
        F.col(id_col).alias("neighbor_id"),
        F.col(label_col).alias("neighbor_label"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("__cn"),
    )
    scored = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("neighbor_label") != F.col("query_label"))
        .withColumn("cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "query_label",
            "neighbor_id",
            "neighbor_label",
            "rank",
            F.round("cos", ndigits).alias("cosine"),
        )
    )


def mmr_topk(
    corpus: DataFrame,
    query: DataFrame,
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 6,
) -> DataFrame:
    """Maximal Marginal Relevance: greedily select k items maximizing
    ``λ·cos(q, d) − (1−λ)·max_{s∈selected} cos(d, s)`` — the
    diversity-aware top-k that plain cosine ranking cannot express
    (its result set is often k near-duplicates of each other; MMR's
    second term penalizes redundancy against what is ALREADY chosen).
    The training-data use: picking k exemplars per topic/cluster that
    COVER it rather than repeat its centroid.

    Execution: the greedy loop is inherently sequential in k (selection
    i+1 depends on selection i), so the driver iterates k rounds; each
    round is one distributed pass — relevance is precomputed ONCE, the
    redundancy term only evaluates cosine against the newest selection
    and folds into a running max column (not recomputed against the
    whole selected set), and the argmax is a 1-row TakeOrderedAndProject.
    Driver traffic is k single rows + k small vector broadcasts — never
    the corpus. k is expected small (single digits to tens); ties break
    on id for determinism. Rows-only in the contract (the greedy
    trajectory is procedural; no SQL form) — invariants are pytest-pinned
    (first pick = plain top-1, diversity no worse than plain top-k,
    determinism).

    Output: (rank, vec_id, relevance, redundancy, mmr_score)."""
    import math  # driver-side scalar math on single rows

    def _seq_norm(vals) -> float:
        # SEQUENTIAL sum of squares — bit-matches the engines' ordered
        # folds (Spark F.aggregate / DuckDB list_dot_product); numpy's
        # pairwise .sum() can differ by 1 ulp, which the oracle replay
        # would inherit into every downstream score
        acc = 0.0
        for x in vals:
            acc += float(x) * float(x)
        return math.sqrt(acc)

    qrow = query.select(F.col(vec_col).alias("v")).first()
    if qrow is None:
        raise ValueError("query DataFrame is empty")
    qv = [float(x) for x in qrow["v"]]
    qn = _seq_norm(qv)

    base = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        l2_norm(vec_col).alias("__n"),
    )
    rel = base.withColumn(
        "relevance",
        dot("__v", F.array(*[F.lit(float(x)) for x in qv]))
        / (F.col("__n") * F.lit(qn)),
    ).select(id_col, "__v", "__n", "relevance")
    rel = rel.cache()
    try:
        remaining = rel.withColumn("redundancy", F.lit(0.0))
        picks = []
        for rank in range(1, k + 1):
            score = lam * F.col("relevance") - (1 - lam) * F.col("redundancy")
            top = (
                remaining.withColumn("mmr_score", score)
                .orderBy(F.col("mmr_score").desc(), F.col(id_col).asc())
                .limit(1)
                .collect()
            )
            if not top:
                break
            row = top[0]
            picks.append(
                (
                    rank,
                    row[id_col],
                    round(float(row["relevance"]), ndigits),
                    round(float(row["redundancy"]), ndigits),
                    round(float(row["mmr_score"]), ndigits),
                )
            )
            sv = [float(x) for x in row["__v"]]
            sn = _seq_norm(sv)
            sim_to_new = dot("__v", F.array(*[F.lit(float(x)) for x in sv])) / (
                F.col("__n") * F.lit(sn)
            )
            remaining = remaining.filter(F.col(id_col) != row[id_col]).withColumn(
                "redundancy", F.greatest(F.col("redundancy"), sim_to_new)
            )
        spark = corpus.sparkSession
        # id type derives from the INPUT schema — hardcoding long
        # crashed the whole greedy loop's result build on string ids
        # (r9 review; every other op here passes ids through)
        from pyspark.sql import types as T

        id_type = corpus.schema[id_col].dataType
        return spark.createDataFrame(
            picks,
            T.StructType(
                [
                    T.StructField("rank", T.IntegerType(), False),
                    T.StructField(id_col, id_type, True),
                    T.StructField("relevance", T.DoubleType(), True),
                    T.StructField("redundancy", T.DoubleType(), True),
                    T.StructField("mmr_score", T.DoubleType(), True),
                ]
            ),
        )
    finally:
        rel.unpersist()


def _auto_refine(candidates_per_query: float, k: int) -> int:
    """Exact-rerank depth sized to the candidate pool — the r10 100×
    probe measured recall@10 at 8-byte codes to be REFINE-BUDGET-BOUND
    (0.126@4 → 0.322@16 → 0.674@64 at 200k vectors,
    docs/SCALING.md §ANN 100×): ADC ordering carries weak within-pool
    signal, so the true top-k are spread through the candidate ranking
    and a fixed refine=4 silently decays as the pool grows. Rerank a
    fixed FRACTION of the pool instead (~20%, the measured knee), with
    a floor of 8·k and a cap of 256·k so the exact-cosine stage stays
    bounded per query whatever the corpus size. At the probe's 200k
    (√N centroids, 8 probes → ~3.6k candidates/query, k=10) this yields
    refine=72 — past the measured 0.674@64 point."""
    import math

    return int(min(256, max(8, math.ceil(0.2 * candidates_per_query / max(k, 1)))))


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_subspaces: int = 4,
    n_codes: int = 16,
    refine: int | None = None,
    seed: int = 42,
    train_cap: int = 2048,
    max_iter: int = 8,
    ndigits: int = 6,
) -> DataFrame:
    """Product-quantization ANN (ADC + exact rerank) — the memory-bound
    scale tier of the vector stack (brute -> LSH -> IVF -> PQ): each
    L2-NORMALIZED vector compresses to ``m_subspaces`` one-byte codes
    (its nearest codebook centroid per dimension slice), so a 128-dim
    float corpus shrinks ~128x and the candidate scan touches codes,
    not floats. Query time builds a per-(query, subspace, code)
    lookup table of squared subdistances (Q x m x n_codes floats —
    broadcast by value into one Arrow-batched scan), ranks candidates
    by the LUT sum (asymmetric distance), keeps ``refine``·k per query,
    and reranks those EXACTLY with cosine over the original vectors —
    the standard FAISS IVFPQ+refine recipe, minus the IVF coarse stage
    (compose with ivf_topk's cells for both). Normalizing before
    training/encoding makes the L2 ADC ordering equivalent to cosine
    ordering, so the refine stage sees the right candidates.

    Codebooks train driver-side on a hash-gated representative sample
    (_representative_sample — the ivf_topk argument); encoding covers
    the corpus in one vectorized pass. Rows-only by nature (k-means
    codebooks have no SQL form); recall vs brute_force_topk is
    pytest-pinned.

    Output: (query_id, neighbor_id, rank, cosine) — brute/IVF schema."""
    if refine is None:
        # flat PQ scans the WHOLE corpus as its candidate pool, so the
        # rerank fraction is taken over the corpus count — but the 256
        # cap in _auto_refine saturates at N >= 1280*k, so a LIMIT-
        # bounded count suffices: it stops scanning once the saturation
        # bound is reached, and below the bound it IS the exact count
        # (r11 ADVICE: the full corpus.count() job was pure overhead for
        # any corpus larger than ~1280*k).
        import math

        bound = int(math.ceil(256 * max(k, 1) / 0.2))
        refine = _auto_refine(float(corpus.limit(bound).count()), k)
    sample = _representative_sample(corpus, id_col, vec_col, train_cap, seed)
    sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    dim = sample.shape[1]
    splits = np.array_split(np.arange(dim), m_subspaces)
    codebooks = [
        _fit_kmeans(sample[:, idx], n_codes, max_iter, seed + 7 * s)
        for s, idx in enumerate(splits)
    ]

    from pyspark.sql.functions import pandas_udf

    def _encode_udf():
        cbs = codebooks
        sps = [np.asarray(idx) for idx in splits]

        @pandas_udf("array<int>")
        def encode(vecs: pd.Series) -> pd.Series:
            mat = np.stack(vecs.to_numpy()).astype(np.float64)
            mat = mat / np.maximum(
                np.linalg.norm(mat, axis=1, keepdims=True), 1e-12
            )
            out = np.empty((len(mat), len(sps)), dtype=np.int32)
            for s, idx in enumerate(sps):
                sub = mat[:, idx]
                cb = cbs[s]
                d = (
                    (sub**2).sum(1)[:, None]
                    - 2 * sub @ cb.T
                    + (cb**2).sum(1)[None, :]
                )
                out[:, s] = d.argmin(axis=1)
            return pd.Series(list(out))

        return encode

    encode = _encode_udf()
    encoded = _valid_vectors(corpus, vec_col, dim).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("__cn"),
        encode(F.col(vec_col)).alias("__codes"),
    )

    qrows = (
        _valid_vectors(queries, vec_col, dim)
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    # native values, not int()-cast: string/UUID ids pass through like
    # every other op in this file (r9 review)
    qids = [r.query_id for r in qrows]
    qmat = np.stack([np.asarray(r.q_vec, dtype=np.float64) for r in qrows])
    qmat = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # LUT[q, s, c] = ||q_s - codebook[s][c]||^2
    lut = np.stack(
        [
            np.stack(
                [
                    ((qmat[:, idx] - codebooks[s][c][None, :]) ** 2).sum(1)
                    for c in range(len(codebooks[s]))
                ],
                axis=1,
            )
            for s, idx in enumerate(splits)
        ],
        axis=1,
    )  # shape (Q, m, n_codes)

    @pandas_udf("array<double>")
    def adc(codes: pd.Series) -> pd.Series:
        cm = np.stack(codes.to_numpy())  # (B, m)
        b = len(cm)
        dist = np.zeros((b, len(qids)))
        for s in range(cm.shape[1]):
            dist += lut[:, s, :][:, cm[:, s]].T  # (B, Q)
        return pd.Series(list(dist))

    q_axis = F.array(*[F.lit(q) for q in qids])
    cand = (
        encoded.withColumn("__ad", adc(F.col("__codes")))
        .select(
            "neighbor_id",
            "c_vec",
            "__cn",
            F.explode(F.arrays_zip(q_axis.alias("query_id"), F.col("__ad").alias("ad"))).alias("z"),
        )
        .select(
            "neighbor_id",
            "c_vec",
            "__cn",
            F.col("z.query_id").alias("query_id"),
            F.col("z.ad").alias("__adist"),
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = cand.withColumn("__r", F.row_number().over(wa)).filter(
        F.col("__r") <= refine * k
    )
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("__qn"),
    )
    reranked = shortlist.drop("__adist", "__r").join(
        F.broadcast(qdf), "query_id"
    ).withColumn("cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos", ndigits).alias("cosine"),
        )
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 16,
    n_probe: int = 4,
    m_subspaces: int = 16,
    n_codes: int = 64,
    refine: int | None = None,
    seed: int = 42,
    train_cap: int = 2048,
    max_iter: int = 8,
    ndigits: int = 6,
) -> DataFrame:
    """IVF + PQ composed — the full FAISS IVFPQ recipe and the tier this
    stack runs at 100 TB: the coarse quantizer (IVF cells) prunes the
    candidate set to ~N·n_probe/n_centroids, PQ codes make each
    candidate a ``m_subspaces``-byte row instead of a float vector, the
    ADC lookup-table sum ranks candidates, and ``refine``·k per query
    pay the exact cosine. Index build is one corpus pass emitting
    (id, cell, codes, norm); both quantizers train driver-side on the
    same hash-gated sample. Candidate generation joins the encoded
    corpus against the BROADCAST probed (query, cell) table, so the
    corpus shuffles zero times end-to-end.

    Rows-only by nature; recall vs brute force pytest-pinned alongside
    the single-tier entries (brute / LSH / IVF / PQ).

    Output: (query_id, neighbor_id, rank, cosine)."""
    from pyspark.sql.functions import pandas_udf

    if refine is None:
        # candidate pool per query ≈ N·n_probe/n_centroids — size the
        # exact-rerank budget to it (r10 verdict: the fixed refine=4
        # default measured recall@10 = 0.126 at 200k; _auto_refine)
        refine = _auto_refine(
            float(corpus.count()) * n_probe / max(n_centroids, 1), k
        )
    sample = _representative_sample(corpus, id_col, vec_col, train_cap, seed)
    cents = _fit_kmeans(sample, n_centroids, max_iter, seed)
    norm_sample = sample / np.maximum(
        np.linalg.norm(sample, axis=1, keepdims=True), 1e-12
    )
    dim = sample.shape[1]
    splits = np.array_split(np.arange(dim), m_subspaces)
    codebooks = [
        _fit_kmeans(norm_sample[:, idx], n_codes, max_iter, seed + 7 * s)
        for s, idx in enumerate(splits)
    ]
    assign_fn = _assign_cells_udf(cents)

    cbs = codebooks
    sps = [np.asarray(idx) for idx in splits]

    @pandas_udf("array<int>")
    def encode(vecs: pd.Series) -> pd.Series:
        mat = np.stack(vecs.to_numpy()).astype(np.float64)
        mat = mat / np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        out = np.empty((len(mat), len(sps)), dtype=np.int32)
        for s, idx in enumerate(sps):
            sub = mat[:, idx]
            cb = cbs[s]
            d = (
                (sub**2).sum(1)[:, None]
                - 2 * sub @ cb.T
                + (cb**2).sum(1)[None, :]
            )
            out[:, s] = d.argmin(axis=1)
        return pd.Series(list(out))

    index = _valid_vectors(corpus, vec_col, cents.shape[1]).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).alias("c_vec"),
        l2_norm(vec_col).alias("__cn"),
        assign_fn(F.col(vec_col)).alias("__cell"),
        encode(F.col(vec_col)).alias("__codes"),
    )

    qrows = (
        _valid_vectors(queries, vec_col, cents.shape[1])
        .select(F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec"))
        .collect()
    )
    qids = [r.query_id for r in qrows]  # native ids — no int() cast (r9)
    qmat = np.stack([np.asarray(r.q_vec, dtype=np.float64) for r in qrows])
    qn = qmat / np.maximum(np.linalg.norm(qmat, axis=1, keepdims=True), 1e-12)
    # probed cells per query: n_probe nearest centroids by RAW-SPACE
    # Euclidean distance — the SAME geometry _assign_cells_udf used to
    # place corpus rows into cells. (An earlier cut probed by cosine of
    # the normalized query; when corpus norms vary, that ranking diverges
    # from the assignment geometry and can miss the cells holding true
    # neighbors — recall loss flagged in round-5 advice.)
    cell_d2 = (
        (qmat**2).sum(1)[:, None] - 2.0 * qmat @ cents.T + (cents**2).sum(1)[None, :]
    )
    probe_rows = []
    for qi, qid in enumerate(qids):
        for cell in np.argsort(cell_d2[qi], kind="stable")[:n_probe]:
            probe_rows.append((qid, int(qi), int(cell)))
    from pyspark.sql import types as T

    probes = corpus.sparkSession.createDataFrame(
        probe_rows,
        T.StructType(
            [
                # id type follows the input (string/UUID ids supported)
                T.StructField("query_id", queries.schema[id_col].dataType, True),
                T.StructField("q_idx", T.IntegerType(), False),
                T.StructField("__cell", T.IntegerType(), False),
            ]
        ),
    )
    # LUT[q, s, c]
    lut = np.stack(
        [
            np.stack(
                [
                    ((qn[:, idx] - codebooks[s][c][None, :]) ** 2).sum(1)
                    for c in range(len(codebooks[s]))
                ],
                axis=1,
            )
            for s, idx in enumerate(splits)
        ],
        axis=1,
    )

    @pandas_udf("double")
    def adc_one(codes: pd.Series, q_idx: pd.Series) -> pd.Series:
        cm = np.stack(codes.to_numpy())
        qi = q_idx.to_numpy()
        dist = np.zeros(len(cm))
        for s in range(cm.shape[1]):
            dist += lut[qi, s, cm[:, s]]
        return pd.Series(dist)

    cand = (
        index.join(F.broadcast(probes), "__cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adist", adc_one(F.col("__codes"), F.col("q_idx")))
    )
    wa = Window.partitionBy("query_id").orderBy(
        F.col("__adist").asc(), F.col("neighbor_id").asc()
    )
    shortlist = cand.withColumn("__r", F.row_number().over(wa)).filter(
        F.col("__r") <= refine * k
    )
    qdf = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("q_vec"),
        l2_norm(vec_col).alias("__qn"),
    )
    reranked = shortlist.join(F.broadcast(qdf), "query_id").withColumn(
        "cos", dot("q_vec", "c_vec") / (F.col("__qn") * F.col("__cn"))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        reranked.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "query_id",
            "neighbor_id",
            "rank",
            F.round("cos", ndigits).alias("cosine"),
        )
    )


def max_cosine_vs_matrix(ref_ids: np.ndarray, ref_mat: np.ndarray):
    """Arrow-batched UDF factory: per-row max cosine against a captured
    reference matrix (self-matches masked by id) — one matmul per batch,
    the broadcast-matrix scoring tier for capped strata (the reference
    side must fit in executor memory; beyond that, IVF/PQ candidates)."""
    from pyspark.sql.functions import pandas_udf

    ref_norm = np.linalg.norm(ref_mat, axis=1)

    @pandas_udf("double")
    def max_cos(vec_id: pd.Series, embedding: pd.Series) -> pd.Series:
        m = np.stack(embedding.to_numpy()).astype(np.float64)
        scores = (m @ ref_mat.T) / (
            np.linalg.norm(m, axis=1)[:, None] * ref_norm[None, :]
        )
        ids = vec_id.to_numpy()
        for i in range(len(ids)):
            scores[i, ref_ids == ids[i]] = -np.inf
        return pd.Series(scores.max(axis=1))

    return max_cos


def matryoshka_recall(
    corpus: DataFrame,
    queries: DataFrame,
    dims: tuple = (8, 16, 32),
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    ndigits: int = 4,
) -> DataFrame:
    """Matryoshka truncation sweep: recall@k of TRUNCATED-dimension
    cosine top-k against the full-dimension exact top-k, per prefix
    width — the readout behind "how many leading dims does this
    embedding family need for retrieval" (Kusupati et al. 2022; MRL
    embeddings are trained so prefixes remain usable — this measures
    whether a given corpus actually delivers that).

    ONE Arrow pass over the corpus scores every (query, dim) pair: the
    query block ships by value (capture-by-value convention), each batch
    is a prefix-sliced matmul per dim — the corpus is read once and no
    pair row materializes outside the batch. Ranking uses the ROUNDED
    cosine (6 digits) with id tie-break, so FP summation-order drift
    (~1e-16) cannot flip the selected set vs a fold-based oracle.

    Output: (dim, recall) — recall = |top-k(dim) ∩ top-k(full)| /
    |top-k(full)|, rounded. The denominator is the SIZE of the
    full-dimension reference set, not n_queries·k: on a corpus with
    fewer than k+1 rows the reference holds < k neighbors per query and
    the fixed denominator reported artificial recall loss (r9 review).
    Ids pass through natively (no integer cast) and rows without a
    full-width embedding are excluded (Arrow-batch hygiene)."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import Window

    qrows = (
        queries.filter(F.col(vec_col).isNotNull())
        .select(id_col, vec_col)
        .collect()
    )
    qids = np.array([r[0] for r in qrows])
    qmat = np.stack([np.asarray(r[1], dtype=np.float64) for r in qrows])
    full_dim = qmat.shape[1]
    all_dims = sorted(set(list(dims) + [full_dim]))

    def score(batches):
        for pdf in batches:
            ids = pdf[id_col].to_numpy()
            mat = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            out_id, out_q, out_d, out_c = [], [], [], []
            for d in all_dims:
                qd = qmat[:, :d]
                md = mat[:, :d]
                qn = qd / np.maximum(
                    np.linalg.norm(qd, axis=1, keepdims=True), 1e-12
                )
                mn = md / np.maximum(
                    np.linalg.norm(md, axis=1, keepdims=True), 1e-12
                )
                cos = mn @ qn.T  # (batch, n_q)
                for qi in range(len(qids)):
                    out_id.append(ids)
                    out_q.append(np.full(len(ids), qids[qi]))
                    out_d.append(np.full(len(ids), d))
                    out_c.append(cos[:, qi])
            yield pd.DataFrame(
                {
                    "neighbor_id": np.concatenate(out_id),
                    "query_id": np.concatenate(out_q),
                    "dim": np.concatenate(out_d).astype("int32"),
                    "cos": np.concatenate(out_c),
                }
            )

    id_t = corpus.schema[id_col].dataType.simpleString()
    scored = (
        _valid_vectors(corpus, vec_col, full_dim)
        .select(id_col, vec_col)
        .mapInPandas(
            score,
            f"neighbor_id {id_t}, query_id {id_t}, dim int, cos double",
        )
        .filter(F.col("neighbor_id") != F.col("query_id"))
    )
    w = Window.partitionBy("query_id", "dim").orderBy(
        F.round("cos", 6).desc(), F.col("neighbor_id").asc()
    )
    top = (
        scored.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select("query_id", "dim", "neighbor_id")
        .localCheckpoint(eager=True)  # read as both the probe and reference side
    )
    full = top.filter(F.col("dim") == full_dim).select(
        "query_id", "neighbor_id"
    )
    matched = (
        top.filter(F.col("dim") != full_dim)
        .join(full, ["query_id", "neighbor_id"], "left_semi")
        .groupBy("dim")
        .agg(F.count(F.lit(1)).alias("__m"))
    )
    # left-join the dim axis so a dimension with ZERO overlap still emits
    # an explicit recall-0 row (at harder corpus scales dim 8 really does
    # miss every true neighbor — a silently absent row reads as untested)
    axis = corpus.sparkSession.createDataFrame(
        [(int(d),) for d in all_dims if d != full_dim], "dim int"
    )
    ref_n = full.agg(F.count(F.lit(1)).alias("__ref"))
    return (
        axis.join(matched, "dim", "left")
        .crossJoin(F.broadcast(ref_n))
        .select(
            "dim",
            F.round(
                F.when(
                    F.col("__ref") > 0,
                    F.coalesce(F.col("__m"), F.lit(0)) * 1.0 / F.col("__ref"),
                ),
                ndigits,
            ).alias("recall"),
        )
    )


def source_centroid_similarity(
    df: DataFrame,
    source_col: str,
    vec_col: str,
    ndigits: int = 6,
) -> DataFrame:
    """Inter-source embedding geometry: the pairwise cosine between each
    source's MEAN vector — the corpus-map readout behind "are these two
    crawls semantically redundant" (near-1 centroids → candidates for
    dedup/mixture-merging; complements ext_domain_divergence's token-
    level KL with the dense-space view).

    Plan: component-wise centroid via posexplode + one combinable
    (source, dim) aggregate — the raw table collapses to
    |sources|·dim rows in one pass, and ordered collect_list rebuilds
    each centroid (dim-bounded). The pairwise stage is a
    |sources|²-row self-join on a broadcast-sized table. Centroid
    components are double means (~1-ulp engine drift), cosines rounded
    well above it.

    Output: (source_a, source_b, cosine) for source_a < source_b."""
    cent = (
        df.select(
            F.col(source_col).alias("src"),
            F.posexplode(F.col(vec_col)).alias("pos", "x"),
        )
        .groupBy("src", "pos")
        .agg(F.avg("x").alias("m"))
        .groupBy("src")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("pos"), F.col("m")))
            ).alias("__a")
        )
        .select(
            "src", F.expr("transform(__a, e -> e.m)").alias("c")
        )
    )
    # |sources| rows: checkpoint so the corpus posexplode + two-level
    # aggregate runs once (not once per join side), and broadcast the
    # right side so the inequality join plans BroadcastNestedLoopJoin
    # instead of a CartesianProduct with |partsA|x|partsB| tasks — the
    # r8 full-registry plan audit caught both.
    cent = cent.localCheckpoint(eager=True)
    a = cent.select(F.col("src").alias("source_a"), F.col("c").alias("ca"))
    b = cent.select(F.col("src").alias("source_b"), F.col("c").alias("cb"))
    return (
        a.join(F.broadcast(b), F.col("source_a") < F.col("source_b"))
        .select(
            "source_a",
            "source_b",
            F.round(
                dot("ca", "cb") / (l2_norm("ca") * l2_norm("cb")), ndigits
            ).alias("cosine"),
        )
    )
