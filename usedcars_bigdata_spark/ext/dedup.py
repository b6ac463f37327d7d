"""Deduplication operators for document corpora.

Document-level tiers, cheapest → most semantic, all pure DataFrame ops
(no Python in the hot path):

1. exact          — md5-hash groupBy; one shuffle on the 16-byte digest.
2. ngram Jaccard  — word-n-gram shingle inverted index + self-join; exact
                    set similarity, quadratic only within shared shingles.
2b. overlap       — same join, containment denominator: catches subset
                    relationships (article + appended boilerplate).
2c. edit distance — prefix-bucketed candidates + banded Levenshtein:
                    catches scattered-small-edit near-copies the shingle
                    tiers dilute.
3. MinHash + LSH  — fixed random-affine permutations over xxhash64 shingle
                    hashes; band-bucket join prunes candidates to
                    near-collisions. Linear-ish; the 100 TB workhorse.
4. SimHash        — 64-bit fingerprints from signed token-hash bit sums;
                    near-dup ⇔ small Hamming distance; chunk-index join.

Sub-document (span) surface — the exact-substring dedup of Lee et al.
2022 at n-gram resolution: ``duplicated_gram_fraction`` scores documents,
``duplicated_spans`` localizes the corpus-duplicated token ranges, and
``remove_duplicated_spans`` cuts every occurrence after the first.
(Line-granularity dedup lives in ext/text.py ``line_dedup``.)

MinHash/SimHash constants are fixed literals so results are deterministic
across runs and cluster layouts.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..operators.window import register_hub

# Mersenne prime 2^31-1; affine MinHash permutations h_i(x) = (a_i*x+b_i) mod P.
# 31-bit domain keeps a_i*x < 2^62 — no int64 overflow under ANSI mode.
_P = (1 << 31) - 1
_MINHASH_SEEDS = [
    (1103515245 + 7919 * i, 12345 + 104729 * i) for i in range(16)
]  # fixed (a_i, b_i), all < P


def _content_hash(text_col: str, id_col: str) -> Column:
    """md5(text), with NULL text mapped to a PER-DOCUMENT sentinel:
    NULL content is UNKNOWN, not equal — md5(NULL) = NULL would
    otherwise collapse every unscraped/failed-fetch document into one
    'duplicate' group and delete all but one (r9 review)."""
    return F.coalesce(
        F.md5(F.col(text_col)),
        F.concat(F.lit("__null__:"), F.col(id_col).cast("string")),
    )


def exact_dedup_stats(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tier 1: exact duplicate groups keyed by md5(text). Returns one row per
    distinct content with the canonical (min) id and the copy count.
    NULL-text documents are never grouped together (see _content_hash)."""
    return (
        df.groupBy(_content_hash(text_col, id_col).alias("content_hash"))
        .agg(F.min(id_col).alias("canonical_id"), F.count("*").alias("n_copies"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tier 1 applied: keep the min-id row per distinct content (deterministic
    survivor, unlike dropDuplicates)."""
    keep = exact_dedup_stats(df, id_col, text_col).select(
        F.col("canonical_id").alias(id_col)
    )
    return df.join(keep, on=id_col, how="left_semi")


def shingle_arrays(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, out: str = "sh_arr"
) -> DataFrame:
    """Distinct word n-gram shingles per document as an ARRAY column — the
    no-shuffle form (one narrow projection). Documents with fewer than
    ``n`` words get an empty array."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    with_words = df.select(F.col(id_col), words.alias("__words"))
    grams = F.expr(
        f"IF(size(__words) >= {n}, "
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> concat_ws(' ', slice(__words, i, {n}))), array())"
    )
    return with_words.select(F.col(id_col), F.array_distinct(grams).alias(out))


def word_shingles(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    out: str = "shingle",
    hashed: bool = False,
) -> DataFrame:
    """Distinct word n-gram shingles per document, via native higher-order
    functions (sequence/transform/explode) — no Python. Documents with fewer
    than ``n`` words produce no shingles.

    The tokenization is projected ONCE into ``__words`` before the
    per-element transform — inlining split() into the lambda makes Catalyst
    re-run the regex for every sequence element (~n_words× slower).

    ``hashed=True`` emits the 64-bit xxhash64 of each shingle instead of
    its text — the scale form for every consumer that only compares
    shingles for EQUALITY (jaccard joins, minhash, doc-frequency): shuffle
    rows carry a fixed-width long, not variable text, which measured ~2×
    end-to-end on ``duplicated_gram_fraction`` at the 800k-doc probe and
    restored sub-linear scaling. Collisions (P ≈ |grams|²/2⁶⁵) can only
    nudge a Jaccard estimate upward by one gram — the string-keyed DuckDB
    oracles certify equality at harness scale."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    with_words = df.select(F.col(id_col), words.alias("__words")).filter(
        F.size("__words") >= n
    )
    gram = f"concat_ws(' ', slice(__words, i, {n}))"
    if hashed:
        gram = f"xxhash64({gram})"
    grams = F.expr(f"transform(sequence(1, size(__words) - {n - 1}), i -> {gram})")
    return with_words.select(F.col(id_col), F.explode(F.array_distinct(grams)).alias(out))


def jaccard_pairs(
    shingles: DataFrame, id_col: str, threshold: float, shingle_col: str = "shingle"
) -> DataFrame:
    """Tier 2: exact n-gram Jaccard similarity via inverted-index self-join.
    Shuffles on the shingle; hot shingles fan out quadratically — AQE skew
    handling applies, and MinHash/LSH (tier 3) is the scale path.

    The shingle table is materialized here: it feeds both self-join legs
    and the size aggregate, and the lazy form re-ran the tokenize-explode
    per consumer (audit: 4 corpus scans; 1 after).

    Fault-tolerance trade (stated explicitly, round-5 advice):
    localCheckpoint stores the hub in executor-LOCAL, non-replicated
    blocks and truncates lineage — on a real cluster an executor loss
    makes the downstream query unrecoverable instead of recomputed, and
    eager evaluation moves the work to plan-construction time. It is
    kept here because the hub feeds a quadratic self-join whose
    re-planning cost dwarfs a retried query, but the production story
    for a 1000-executor run is persist(StorageLevel.DISK_ONLY_2) (2x
    replicated) or an explicit staging write; see docs/SCALING.md
    'localCheckpoint fault-tolerance note' for the repo-wide policy."""
    shingles = shingles.localCheckpoint(eager=True)
    a = shingles.alias("a")
    b = shingles.alias("b")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (
        a.join(
            b,
            (F.col(f"a.{shingle_col}") == F.col(f"b.{shingle_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def overlap_pairs(
    shingles: DataFrame, id_col: str, threshold: float, shingle_col: str = "shingle"
) -> DataFrame:
    """Tier 2b: overlap-coefficient (containment) pairs —
    |A∩B| / min(|A|,|B|) ≥ threshold. Flags SUBSET relationships Jaccard
    structurally under-scores: a short article fully contained in a longer
    re-post scores |A|/|B| on Jaccard (small when lengths differ) but 1.0
    on containment — the republished-with-appended-boilerplate class every
    web corpus carries. Identical inverted-index self-join shape (and
    cost) as ``jaccard_pairs``; only the denominator differs. The
    shingle table is materialized for the same three-consumer reason."""
    shingles = shingles.localCheckpoint(eager=True)
    a = shingles.alias("a")
    b = shingles.alias("b")
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    inter = (
        a.join(
            b,
            (F.col(f"a.{shingle_col}") == F.col(f"b.{shingle_col}"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(
            F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
        )
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    ov = F.col("inter") / F.least(F.col("n_a"), F.col("n_b"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(ov >= threshold)
        .select("id_a", "id_b", F.round(ov, 4).alias("overlap"))
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_dist: int = 60,
    prefix_tokens: int = 2,
    max_bucket: int = 1000,
) -> DataFrame:
    """Character-level near-duplicate pairs: candidates share a token-
    prefix fingerprint; exact Levenshtein verifies candidates only.

    The complement of the shingle tiers: Jaccard/MinHash tolerate
    REORDERING but dilute small in-place edits across every affected
    shingle, while edit distance catches the "same document, scattered
    small edits" class directly. Prefix fingerprinting exploits that this
    class shares its opening tokens (template headers, re-posts with tail
    edits). Cost is O(Σ|bucket|²) bounded Levenshtein calls, never N²;
    buckets larger than ``max_bucket`` are dropped (a prefix shared by
    thousands of docs is boilerplate, not identity — run ``exact_dedup``
    first, and detect boilerplate with ext.text's boilerplate ops).

    Three measured mitigations keep verification cheap (11.3s → 0.9s on
    the sf0.1 bench):

    - a length-difference pre-filter (|len_a − len_b| > max_dist ⇒
      dist > max_dist, no DP needed);
    - the THRESHOLDED ``levenshtein(l, r, max_dist)`` form — banded DP,
      O(len·max_dist) with early exit instead of O(len²); returns -1
      above the threshold, dropped by the final filter;
    - an EXPLICIT repartition of the probe side BEFORE the self-join:
      Catalyst pushes the dist predicate into the broadcast-join
      condition, so the DP executes inside the join — whose parallelism
      is the probe side's scan partitioning (ONE task for a single small
      file; measured 8.5s of the 8.7s total on one core). Repartitioning
      the pair rows after the join doesn't help — the filter pushes back
      through the exchange into the join. AQE sizes stages by bytes, not
      CPU; compute-dense joins must pin the probe side's parallelism.

    Output: (id_a, id_b, dist) with id_a < id_b and dist ≤ max_dist."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    fp = F.md5(F.concat_ws(" ", F.slice(words, 1, prefix_tokens)))
    t = df.select(
        F.col(id_col),
        F.col(text_col),
        fp.alias("__fp"),
        F.length(text_col).alias("__len"),
    )
    small = (
        t.groupBy("__fp")
        .agg(F.count("*").alias("__n"))
        .filter(F.col("__n") <= max_bucket)
        .select("__fp")
    )
    # Materialize the bucket-filtered probe table: it feeds BOTH legs of
    # the self-join (and `small` already re-read the projection), so the
    # lazy form scanned the corpus four times (audit); two after — the
    # projection into `small` and this checkpoint.
    t = t.join(small, "__fp").localCheckpoint(eager=True)
    # never REDUCE parallelism: a corpus already read as many partitions
    # keeps them; the floor only lifts the single-small-file case
    n_tasks = max(
        df.sparkSession.sparkContext.defaultParallelism,
        df.rdd.getNumPartitions(),
    )
    a = t.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta"),
        F.col("__len").alias("__la"), "__fp",
    ).repartition(n_tasks, "id_a")
    b = t.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb"),
        F.col("__len").alias("__lb"), "__fp",
    )
    return (
        a.join(b, "__fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.abs(F.col("__la") - F.col("__lb")) <= max_dist)
        .withColumn("dist", F.levenshtein("__ta", "__tb", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def _shingle_hash(shingle_col: str = "shingle") -> Column:
    """Nonnegative 61-bit base hash of a shingle."""
    return F.pmod(F.xxhash64(F.col(shingle_col)), F.lit(_P))


def minhash_signatures(
    shingles: DataFrame, id_col: str, shingle_col: str = "shingle"
) -> DataFrame:
    """Tier 3a (exploded-input form): k=16 MinHash values per document — k
    min-aggregates over the affine-permuted shingle hash in one grouped agg
    (single shuffle). Prefer ``minhash_signatures_from_arrays`` when you
    already hold shingle ARRAYS: it needs no shuffle at all."""
    x = _shingle_hash(shingle_col)
    mins = [
        F.min(F.pmod(F.lit(a) * x + F.lit(b), F.lit(_P))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_MINHASH_SEEDS)
    ]
    return shingles.groupBy(id_col).agg(*mins)


def minhash_signatures_from_arrays(
    with_arrays: DataFrame, id_col: str, arr_col: str = "sh_arr"
) -> DataFrame:
    """Tier 3a (array form): the k min-permuted hashes computed per ROW with
    higher-order functions — a narrow projection, zero shuffles. Empty
    shingle arrays (short docs) are dropped, matching the exploded form.

    The xxhash64 base hashes are projected ONCE into an intermediate
    column; inlining them into each of the k permutation transforms would
    re-hash every shingle k times."""
    hashed = with_arrays.filter(F.size(arr_col) > 0).select(
        F.col(id_col),
        F.expr(f"transform({arr_col}, s -> pmod(xxhash64(s), {_P}L))").alias("__h"),
    )
    cols = [
        F.expr(
            f"array_min(transform(__h, h -> pmod({a}L * h + {b}L, {_P}L)))"
        ).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_MINHASH_SEEDS)
    ]
    return hashed.select(F.col(id_col), *cols)


def band_keys(
    signatures: DataFrame, id_col: str, bands: int = 4
) -> DataFrame:
    """Band the k-wide MinHash signature into ``bands`` (band, sig) keys
    per document — the LSH bucketing shared by the batch candidate
    generator, the bucket auditor, and the streaming near-dup detector
    (streaming/dedup.py). One narrow projection, no shuffle."""
    k = len(_MINHASH_SEEDS)
    # bands must tile the signature exactly: a non-divisor silently
    # ignored the trailing hashes (the s-curve no longer matched the
    # documented 1-(1-s^(k/b))^b guarantee) and bands > k built an
    # empty-arg xxhash64 that failed at plan time (r9 review)
    if not 1 <= bands <= k or k % bands != 0:
        raise ValueError(
            f"bands must divide the signature width {k}: got {bands}"
        )
    rows_per_band = k // bands
    band_cols = []
    for bi in range(bands):
        cols = [
            F.col(f"mh_{i}")
            for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)
        ]
        band_cols.append(
            F.struct(F.lit(bi).alias("band"), F.xxhash64(*cols).alias("sig"))
        )
    return signatures.select(
        F.col(id_col), F.explode(F.array(*band_cols)).alias("bk")
    ).select(id_col, F.col("bk.band").alias("band"), F.col("bk.sig").alias("sig"))


def lsh_candidate_pairs(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    max_bucket: int | None = None,
    audit=None,
) -> DataFrame:
    """Tier 3b: band the k-wide signature into ``bands`` groups; documents
    colliding on any whole band become candidates.

    Shape: group ids per (band, band-signature) bucket and emit in-bucket
    pairs with a nested transform — ONE shuffle of the banded rows and the
    signature aggregation is computed once. (The self-join formulation
    plans the signature subtree on BOTH sides — two full computations of
    the 16-min aggregate — and was measurably slower: 16.7s vs 10.5s at
    400k docs.) Per-bucket pair fanout is |bucket|²; ``max_bucket`` skips
    degenerate hot buckets outright (a bucket shared by thousands of docs
    carries no discriminative signal and only exists under adversarial or
    near-constant corpora — standard LSH practice at 100 TB; None keeps
    every bucket).

    The cap is never silent: when ``max_bucket`` is set, a CollectMetrics
    node (``df.observe``) on the pre-filter bucket table records
    ``n_buckets`` / ``n_skipped_buckets`` / ``max_bucket_size`` as part of
    the same action — no extra job. Metrics surface in the Spark UI and
    QueryExecutionListeners under the name ``lsh_bucket_audit``; pass a
    ``pyspark.sql.Observation`` as ``audit`` to read them directly after
    an action. Caveat (measured): if the WHOLE downstream result is empty,
    AQE's empty-relation propagation can drop the CollectMetrics node
    before its stage runs — for a guaranteed audit of a zero-pair run,
    call ``lsh_bucket_stats`` on the same signatures (one small extra
    aggregate; see tests/test_ext_dedup.py)."""
    banded = band_keys(signatures, id_col, bands)
    buckets = (
        banded.groupBy("band", "sig")
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None or audit is not None:
        # the observe node also attaches in the uncapped audit=Observation
        # case — otherwise Observation.get would block forever waiting on
        # metrics that never registered (r9 review); with no cap,
        # n_skipped_buckets is identically 0
        cap = F.lit(max_bucket) if max_bucket is not None else None
        # coalesce: F.sum / F.max over an EMPTY buckets frame yield NULL,
        # not the documented "identically 0" — e.g. when no bucket holds
        # >= 2 ids the audit reported n_skipped_buckets = NULL (r9 ADVICE)
        buckets = buckets.observe(
            audit if audit is not None else "lsh_bucket_audit",
            F.count(F.lit(1)).alias("n_buckets"),
            F.coalesce(
                (
                    F.sum((F.size("ids") > cap).cast("long"))
                    if cap is not None
                    else F.sum(F.lit(0)).cast("long")
                ),
                F.lit(0).cast("long"),
            ).alias("n_skipped_buckets"),
            F.coalesce(F.max(F.size("ids")), F.lit(0)).alias("max_bucket_size"),
        )
    if max_bucket is not None:
        buckets = buckets.filter(F.size("ids") <= max_bucket)
    # ids are sorted, so pairing element i with every later element yields
    # (id_a < id_b) directly.
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    return (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )


def lsh_bucket_stats(
    signatures: DataFrame,
    id_col: str,
    bands: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Standalone LSH bucket audit: per band, the bucket count, the largest
    bucket, and — when ``max_bucket`` is given — how many buckets the cap
    would skip. One row per band; runs as its own small job, so it is
    available even when the candidate query itself returns nothing (the
    case where the in-plan ``lsh_bucket_audit`` observation can be lost to
    AQE empty-relation propagation)."""
    banded = band_keys(signatures, id_col, bands)
    sizes = banded.groupBy("band", "sig").agg(F.count(F.lit(1)).alias("n"))
    aggs = [
        F.count(F.lit(1)).alias("n_buckets"),
        F.sum((F.col("n") >= 2).cast("long")).alias("n_candidate_buckets"),
        F.max("n").alias("max_bucket_size"),
    ]
    if max_bucket is not None:
        aggs.append(
            F.sum((F.col("n") > max_bucket).cast("long")).alias("n_skipped_buckets")
        )
    return sizes.groupBy("band").agg(*aggs)


def jaccard_for_pairs(
    shingles: DataFrame,
    pairs: DataFrame,
    id_col: str,
    threshold: float,
    shingle_col: str = "shingle",
) -> DataFrame:
    """Exact Jaccard restricted to given (id_a, id_b) pairs: two equi-joins
    proportional to |pairs|·avg_shingles — never the full quadratic
    inverted-index self-join."""
    sizes = shingles.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    sh_a = shingles.select(F.col(id_col).alias("id_a"), F.col(shingle_col))
    sh_b = shingles.select(F.col(id_col).alias("id_b"), F.col(shingle_col))
    inter = (
        pairs.join(sh_a, "id_a")
        .join(sh_b, ["id_b", shingle_col])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("n_a"))
    nb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("n_b"))
    jac = F.col("inter") / (F.col("n_a") + F.col("n_b") - F.col("inter"))
    return (
        inter.join(na, "id_a")
        .join(nb, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
    )


def minhash_near_dupes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    bands: int = 4,
    max_bucket: int | None = 1000,
    audit=None,
) -> DataFrame:
    """Tier 3 end-to-end: shingle → minhash → LSH candidates → exact-Jaccard
    verification of CANDIDATES ONLY (the LSH point: total cost tracks the
    candidate count, not n²). Output matches jaccard_pairs semantics
    restricted to LSH-surviving pairs.

    ``max_bucket`` (default 1000) drops degenerate hot LSH buckets: one
    non-discriminative (band, sig) bucket on a 100 TB corpus means a
    multi-GB collect_list array in a single row plus |bucket|² candidate
    fanout. A bucket that large carries no signal (its members are
    near-constant text — run ``exact_dedup`` FIRST so identical docs
    never reach LSH), and every skip is recorded in the
    ``lsh_bucket_audit`` observed metrics (see lsh_candidate_pairs).
    ``max_bucket=None`` disables the cap for exhaustive verification
    tiers.

    Plan shape: exploded shingles (persisted — they feed the signature agg
    and both verification joins) → one shuffle for the 16-min signature
    agg → band join → candidate-only Jaccard. Two MEASURED non-choices,
    kept out deliberately: (a) the zero-shuffle per-row signature variant
    (minhash_signatures_from_arrays) costs more in nested higher-order-
    function evaluation than the small shuffle it avoids (6.5s vs 2.8s at
    sf0.1); (b) persisting candidates + semi-join-pruning the verification
    index adds materialization barriers that outweigh the pruning at
    realistic candidate counts (5.4s vs 2.8s) — revisit only if candidate
    verification ever dominates. The shingle persist is REGISTERED in the
    hub registry (window.register_hub): call release_hubs() once the
    returned pairs are materialized — the harnesses (bench.py,
    scripts/audit.py, the test drain fixture) already do."""
    sh = register_hub(
        word_shingles(df, id_col, text_col, n=n, hashed=True).persist()
    )
    cands = lsh_candidate_pairs(
        minhash_signatures(sh, id_col),
        id_col,
        bands=bands,
        max_bucket=max_bucket,
        audit=audit,
    )
    return jaccard_for_pairs(sh, cands, id_col, threshold=threshold)


def pair_graph_stats(pairs: DataFrame) -> DataFrame:
    """Structural diagnostics of a near-dup pair graph: vertex/edge
    counts, max degree, and the TRIANGLE count — the density signal that
    separates genuine duplicate clusters (near-cliques, many triangles)
    from chains of borderline pairs (few), and the standard sanity check
    before trusting connected components at a given threshold.

    Edges arrive as (id_a < id_b) rows. Degrees are one symmetrized
    groupBy; triangles use the ordered-wedge join (a<b<c): wedges
    (a,b)⋈(b,c) then a semi-join probe for the closing (a,c) edge — each
    triangle counted exactly once, cost O(Σ deg(b)²) over wedge centers,
    never all-triples. At 100 TB pair graphs are dup-subgraph-sized (the
    CC argument), so the wedge join stays proportional to actual
    duplication, and a hot center's wedges partial-aggregate.

    Output: one row (n_vertices, n_edges, max_degree, n_triangles)."""
    # The edge set is read SEVEN times (vertices both sides, degrees both
    # sides, three wedge/probe legs, the count) — and the upstream pair
    # generation (LSH + verification) is expensive. Materialize it once;
    # without this the entry's plan carried 20 corpus scans (audit).
    e = pairs.select("id_a", "id_b").distinct().localCheckpoint(eager=True)
    verts = (
        e.select(F.col("id_a").alias("v"))
        .unionByName(e.select(F.col("id_b").alias("v")))
        .distinct()
    )
    degrees = (
        e.select(F.col("id_a").alias("v"))
        .unionByName(e.select(F.col("id_b").alias("v")))
        .groupBy("v")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    wedges = (
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .join(
            e.select(F.col("id_a").alias("b"), F.col("id_b").alias("c")),
            "b",
        )
    )
    triangles = wedges.join(
        e.select(F.col("id_a").alias("a"), F.col("id_b").alias("c")),
        ["a", "c"],
        "left_semi",
    )
    n_tri = triangles.count()
    return (
        verts.agg(F.count(F.lit(1)).alias("n_vertices"))
        .crossJoin(e.agg(F.count(F.lit(1)).alias("n_edges")))
        # coalesce: max over an empty degree table is NULL, not the 0 an
        # empty graph should report (r10 sweep of the r9-ADVICE class)
        .crossJoin(
            degrees.agg(F.coalesce(F.max("deg"), F.lit(0)).alias("max_degree"))
        )
        .withColumn("n_triangles", F.lit(n_tri).cast("long"))
    )


def connected_components(
    ids: DataFrame, pairs: DataFrame, id_col: str, max_iters: int = 20
) -> DataFrame:
    """Cluster near-duplicate pairs into components: each id is labeled
    with the MIN id reachable through the pair graph (ids without pairs are
    singleton components).

    Algorithm: iterative min-label propagation — each round every vertex
    takes the minimum label among itself and its neighbors; converges in
    O(component diameter) rounds (near-dup components are shallow; capped
    at ``max_iters``). Each round is one join + one grouped min — the
    standard Spark pattern where GraphX/graphframes aren't available, and
    the per-round convergence check is a driver scalar on the CHANGE count
    only. Labels are checkpointed via persist each round to keep lineage
    bounded."""
    # Persist the symmetrized edge set: every iteration joins against it,
    # and without the cache each round re-evaluates the whole upstream
    # pair-generation lineage (e.g. the shingle self-join).
    edges = (
        pairs.select(F.col("id_a").alias("s"), F.col("id_b").alias("t"))
        .unionByName(pairs.select(F.col("id_b").alias("s"), F.col("id_a").alias("t")))
        .distinct()
        .persist()
    )
    register_hub(edges)
    # Propagate labels only over vertices that HAVE edges: the iterated
    # state then scales with the pair graph (dup-dense subset), not the
    # whole corpus — on a mostly-unique 100 TB corpus that is orders of
    # magnitude smaller. Edge-less ids rejoin as singletons at the end.
    labels = edges.select("s").distinct().withColumn("component", F.col("s"))
    converged = False
    for _ in range(max_iters):
        neighbor_min = (
            edges.join(labels.withColumnRenamed("s", "t2"), edges.t == F.col("t2"))
            .groupBy("s")
            .agg(F.min("component").alias("nbr_component"))
        )
        # localCheckpoint (eager) materializes AND truncates lineage — with
        # plain persist the logical plan doubles every round and Catalyst
        # analysis time grows exponentially with iterations; checkpointed
        # blocks are released by the ContextCleaner when unreferenced.
        updated = (
            labels.join(neighbor_min, on="s", how="left")
            .select(
                "s",
                F.least(
                    F.col("component"), F.coalesce("nbr_component", F.col("component"))
                ).alias("component"),
                (F.coalesce("nbr_component", F.col("component")) < F.col("component"))
                .alias("__changed"),
            )
        ).localCheckpoint(eager=True)
        n_changed = updated.filter("__changed").count()
        labels = updated.drop("__changed")
        if n_changed == 0:
            converged = True
            break
    edges.unpersist()
    if not converged:
        # Returning split components silently would be a WRONG answer.
        raise RuntimeError(
            f"connected_components did not converge in {max_iters} iterations "
            "(component diameter exceeds max_iters); raise max_iters"
        )
    return ids.select(F.col(id_col)).join(
        labels.withColumnRenamed("s", id_col), on=id_col, how="left"
    ).select(
        id_col, F.coalesce("component", F.col(id_col)).alias("component")
    )


def near_dup_clusters(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
    use_minhash: bool = True,
    bands: int = 4,
    max_bucket: int | None = 1000,
    with_audit: bool = False,
):
    """End-to-end near-dup clustering: near-dup pair graph → connected
    components → per-doc (component, is_canonical) labels. The 'keep one
    per cluster' primitive of a training-data pipeline:
    ``filter(is_canonical)`` yields the deduplicated corpus.

    ``use_minhash=True`` (default) feeds the component graph from the
    LSH-pruned candidate pairs (``minhash_near_dupes``) — cost tracks the
    candidate count, the 100 TB path. ``use_minhash=False`` uses the exact
    inverted-index self-join (``jaccard_pairs``), whose hot-shingle fanout
    is quadratic; keep it for verification tiers and oracles.

    Recall caveat: LSH banding can miss BORDERLINE pairs (probability of
    candidacy at similarity s is 1-(1-s^(k/bands))^bands, low for s near
    the threshold when the threshold is small). Real near-dup corpora are
    strongly bimodal (dupes cluster at s≳0.8, where recall ≈ 1), so the
    two paths agree in practice — measured identical pair sets and cluster
    assignments on the harness corpora (tests/test_ext_dedup.py pins the
    equivalence). For adversarial distributions flip ``use_minhash`` off
    or raise ``bands``.

    ``with_audit=True`` additionally returns the per-band LSH bucket
    audit (``lsh_bucket_stats``: n_buckets / n_candidate_buckets /
    max_bucket_size / n_skipped_buckets) as a second DataFrame, so the
    ``max_bucket`` truncation is VISIBLE to pipeline authors instead of
    living only in the in-plan ``observe`` metrics (which a caller must
    know to read, and which AQE can drop on empty results). Returns
    (clusters, audit) in that mode; audit shares the persisted shingle
    scan, so the extra cost is one small signature aggregate."""
    if with_audit and not use_minhash:
        raise ValueError(
            "with_audit=True requires use_minhash=True: the bucket audit "
            "describes the LSH candidate stage, which the exact jaccard "
            "path does not run"
        )
    audit_df = None
    if use_minhash:
        sh = register_hub(
            word_shingles(df, id_col, text_col, n=n, hashed=True).persist()
        )
        sigs = minhash_signatures(sh, id_col)
        cands = lsh_candidate_pairs(sigs, id_col, bands=bands, max_bucket=max_bucket)
        pairs = jaccard_for_pairs(sh, cands, id_col, threshold=threshold)
        if with_audit:
            audit_df = lsh_bucket_stats(
                sigs, id_col, bands=bands, max_bucket=max_bucket
            )
    else:
        sh = word_shingles(df, id_col, text_col, n=n, hashed=True)
        pairs = jaccard_pairs(sh, id_col, threshold=threshold)
    comp = connected_components(df.select(id_col), pairs, id_col)
    clusters = comp.select(
        id_col,
        "component",
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )
    return (clusters, audit_df) if with_audit else clusters


def simhash64(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Tier 4: 64-bit SimHash fingerprint. Token-level xxhash64; per bit b
    the signed sum of (+1/-1) over tokens decides bit b of the fingerprint.
    Entirely native: explode → 64 conditional sums in ONE grouped agg →
    bit-compose. One shuffle on the id."""
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s_{b}")
        for b in range(64)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    fp = None
    for b in range(64):
        bit = F.when(F.col(f"s_{b}") > 0, F.lit(1).cast("long")).otherwise(F.lit(0).cast("long"))
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp.bitwiseXOR(term)
    return agg.select(F.col(id_col), fp.alias("simhash"))


def simhash64_md5_chunks(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """SimHash on a cross-engine-replayable bit source, emitted as the
    4x16-bit chunks the Hamming index (simhash_near_pairs) keys on.
    Same mechanism as simhash64 — per bit b the signed sum of (+1/-1)
    over tokens decides bit b — but the per-token bit source is md5
    instead of xxhash64 (which DuckDB cannot evaluate): bits 0-59 from
    int(md5(tok)[:15], 16), bits 60-63 from int(md5(tok)[15], 16). The
    fingerprint is returned as chunks (each 0..65535) rather than one
    packed int64 because DuckDB's signed << throws on bit 63; chunk
    equality is exactly what the pigeonhole candidate index uses, so
    nothing is lost. One explode + one grouped agg, one shuffle on the
    id — the same shape and cost as the xxhash64 scale tier."""
    tokens = df.select(
        F.col(id_col),
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).select(
        id_col,
        F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10)
        .cast("long")
        .alias("h60"),
        F.conv(F.substring(F.md5("tok"), 16, 1), 16, 10)
        .cast("int")
        .alias("h4"),
    )

    def _bit(b: int):
        if b < 60:
            return F.shiftright(F.col("h60"), b).bitwiseAND(F.lit(1)) == 1
        return F.shiftright(F.col("h4"), b - 60).bitwiseAND(F.lit(1)) == 1

    bit_sums = [
        F.sum(F.when(_bit(b), 1).otherwise(-1)).alias(f"s_{b}")
        for b in range(64)
    ]
    agg = tokens.groupBy(id_col).agg(*bit_sums)
    chunks = []
    for j in range(4):
        c = F.lit(0)
        for k in range(16):
            bit = F.when(F.col(f"s_{16 * j + k}") > 0, 1).otherwise(0)
            c = c + F.shiftleft(bit, k)
        chunks.append(c.cast("int").alias(f"fp_c{j}"))
    return agg.select(F.col(id_col), *chunks)


def simhash_near_pairs(
    fingerprints: DataFrame, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pair documents whose fingerprints differ in ≤ max_hamming bits.
    Candidate generation: 4×16-bit chunk index, then exact popcount filter.
    By pigeonhole the index is COMPLETE iff max_hamming < 4 (≤3 differing
    bits cannot touch all 4 chunks, so some chunk matches exactly) — hence
    the default. Larger thresholds are APPROXIMATE: a pair spreading its
    differing bits 2-2-2-2 across chunks shares no chunk and is missed;
    raise the chunk count (smaller chunks) for completeness at higher
    radii."""
    chunks = fingerprints.select(
        F.col(id_col),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftright(F.col("simhash"), 16 * i)
                        .bitwiseAND(F.lit(0xFFFF))
                        .alias("ck"),
                    )
                    for i in range(4)
                ]
            )
        ).alias("c"),
    ).select(id_col, "simhash", F.col("c.chunk").alias("chunk"), F.col("c.ck").alias("ck"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cands = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.ck") == F.col("b.ck"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cands.filter(hamming <= max_hamming).select(
        "id_a", "id_b", hamming.cast("int").alias("hamming")
    )


def duplicated_gram_fraction(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    min_docs: int = 2,
    flag_threshold: float = 0.5,
    ndigits: int = 4,
) -> DataFrame:
    """Inter-document repetition score (the cross-document half of the
    Gopher repetition filters; cf. Rae et al. 2021 §A1.1, and C4's
    three-sentence dedup): per document, the fraction of its word n-gram
    OCCURRENCES whose gram occurs in at least ``min_docs`` distinct
    documents corpus-wide. Documents that are mostly made of corpus-
    duplicated n-grams (templates, mirrors, boilerplate-heavy pages) get
    ``dup_frac`` near 1 and are flagged at ``flag_threshold``.

    Shape at scale: (1) tokenization hoisted into ``__words`` once (the
    ``shingle_arrays`` pattern — never re-split inside the lambda);
    (2) each gram is collapsed to a 64-bit xxhash64 key AT EXPLODE TIME,
    so no gram string ever enters a shuffle — measured ~2× end-to-end at
    800k probe docs (62s → 26-33s) and the 200k→800k scaling ratio drops
    from 5.0× to 3.0× per 4× data (string-key sort-merge rows were both
    wide and slow to compare); a
    collision merely merges two grams' df counts (P ≈ |grams|²/2^65 —
    irrelevant for a statistical filter, and the DuckDB oracle stays
    string-keyed to certify that at harness scale);
    (3) per-(doc, gram) occurrence counts map-side combine before the
    first shuffle; (4) gram document-frequency is a count over those
    per-doc rows (no countDistinct); (5) the df table joins back on the
    gram key and re-aggregates per doc. Three shuffles total, all
    partial-aggregated; no all-pairs stage, so cost is O(total grams),
    not O(docs²) — unlike ``jaccard_pairs`` this scores every document
    alone against corpus-global statistics.

    Output: (id, n_grams, dup_grams, dup_frac, flagged)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    with_words = df.select(F.col(id_col), words.alias("__words")).filter(
        F.size("__words") >= n
    )
    grams = F.expr(
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice(__words, i, {n}))))"
    )
    occ = (
        with_words.select(F.col(id_col), F.explode(grams).alias("gram"))
        .groupBy(id_col, "gram")
        .agg(F.count("*").alias("occ"))
    )
    gram_df = occ.groupBy("gram").agg(F.count("*").alias("df"))
    per_doc = (
        occ.join(gram_df, on="gram")
        .groupBy(id_col)
        .agg(
            F.sum("occ").alias("n_grams"),
            F.sum(
                F.when(F.col("df") >= min_docs, F.col("occ")).otherwise(F.lit(0))
            ).alias("dup_grams"),
        )
    )
    frac = F.col("dup_grams") / F.col("n_grams")
    return per_doc.select(
        F.col(id_col),
        F.col("n_grams"),
        F.col("dup_grams"),
        F.round(frac, ndigits).alias("dup_frac"),
        (frac >= flag_threshold).alias("flagged"),
    )


def _with_words(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, __words) for docs with at least n tokens — tokenized ONCE."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    return df.select(F.col(id_col), words.alias("__words")).filter(
        F.size("__words") >= n
    )


def _merged_dup_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int,
    min_docs: int,
    with_words: DataFrame | None = None,
) -> DataFrame:
    """Shared core of ``duplicated_spans`` / ``remove_duplicated_spans``:
    per document, the MERGED half-open token intervals [ms, me) covered by
    n-grams occurring in >= min_docs documents. Hashed gram keys; both
    gaps-and-islands windows partition by the document. Callers that
    reuse the tokenized corpus pass their (materialized) ``with_words``
    so this core adds no extra corpus scan."""
    if with_words is None:
        with_words = _with_words(df, id_col, text_col, n)
    grams = F.expr(
        f"transform(sequence(1, size(__words) - {n - 1}), "
        f"i -> xxhash64(concat_ws(' ', slice(__words, i, {n}))))"
    )
    starts = with_words.select(
        F.col(id_col), F.posexplode(grams).alias("pos", "gram")
    )
    gram_df = (
        starts.select(id_col, "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count(F.lit(1)).alias("__df"))
        .filter(F.col("__df") >= min_docs)
        .select("gram")
    )
    dup_starts = starts.join(gram_df, "gram").select(id_col, "pos")

    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy("pos")
    runs = (
        dup_starts.withColumn("__isl", F.col("pos") - F.row_number().over(w))
        .groupBy(id_col, "__isl")
        .agg(F.min("pos").alias("s"), (F.max("pos") + n).alias("e"))
    )
    w2 = Window.partitionBy(id_col).orderBy("s")
    prev_max = F.max("e").over(w2.rowsBetween(Window.unboundedPreceding, -1))
    return (
        runs.withColumn(
            "__new", F.when(prev_max.isNull() | (F.col("s") > prev_max), 1).otherwise(0)
        )
        .withColumn(
            "__m", F.sum("__new").over(w2.rowsBetween(Window.unboundedPreceding, 0))
        )
        .groupBy(id_col, "__m")
        .agg(F.min("s").alias("ms"), F.max("e").alias("me"))
    )


def duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
    ndigits: int = 4,
) -> DataFrame:
    """Span-level exact-substring duplication report — the span
    EXTRACTION at the core of suffix-array training-data dedup (Lee et
    al. 2022, "Deduplicating Training Data Makes Language Models
    Better"), bounded to n-gram resolution: per document, the maximal
    token spans covered by n-grams occurring in >= ``min_docs`` documents
    corpus-wide. Where ``duplicated_gram_fraction`` SCORES a document,
    this localizes WHICH token ranges are corpus-duplicated — the input a
    span-removal pass needs.

    Shape at scale: gram starts explode ONCE with positions (hashed gram
    keys — fixed-width shuffle rows, the dup-gram lesson); document
    frequency is a grouped count over per-(doc, gram) distinct rows; the
    df table joins back on the hash. Then two gaps-and-islands windows,
    BOTH partitioned by the document (width bounded by doc length, never
    corpus-sized): consecutive duplicated gram starts merge into runs,
    runs widen to half-open token intervals [start, start+len+n-1), and
    intervals that overlap (possible when run gaps < n) merge via a
    running max of the interval end. Coverage is exact — no
    double-counting of overlapped tokens.

    Output: (id, n_tokens, n_dup_spans, longest_span_tokens,
    dup_token_frac) for every input document (zeros when nothing is
    duplicated or the doc is shorter than n)."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), F.size(words).alias("n_tokens"))
    # Tokenize once and materialize: the span core references the token
    # table from several consumers, and without the checkpoint each one
    # re-scanned the corpus (audit: 3 documents scans; 1+base after).
    ww = _with_words(df, id_col, text_col, n).localCheckpoint(eager=True)
    merged = _merged_dup_spans(df, id_col, text_col, n, min_docs, with_words=ww)
    per_doc = merged.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.max(F.col("me") - F.col("ms")).alias("longest_span_tokens"),
        F.sum(F.col("me") - F.col("ms")).alias("__covered"),
    )
    return (
        base.join(per_doc, id_col, "left")
        .select(
            F.col(id_col),
            "n_tokens",
            F.coalesce("n_dup_spans", F.lit(0)).cast("long").alias("n_dup_spans"),
            F.coalesce("longest_span_tokens", F.lit(0))
            .cast("long")
            .alias("longest_span_tokens"),
            F.round(
                F.coalesce(F.col("__covered"), F.lit(0)) / F.col("n_tokens"),
                ndigits,
            ).alias("dup_token_frac"),
        )
    )


def remove_duplicated_spans(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 5,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup APPLIED (Lee et al. 2022 semantics at n-gram
    resolution): every merged duplicated span survives only at its FIRST
    occurrence of that exact span content (min doc id, then min start —
    the engine's standard survivor convention); later occurrences are cut
    from the text, unique content is untouched.

    Pipeline (everything document- or span-keyed — no corpus-sized
    window): merged spans from ``_merged_dup_spans`` → span CONTENT
    (token slice) hashed → grouped min over the (doc, start) STRUCT
    elects each content's survivor (struct min is lexicographic — the
    standard "min doc then min start" convention — and works for any
    orderable id type, string ids included, with no packed-key collision
    between documents) → non-survivor spans join back to their doc's
    tokens (equi-join on the doc id, range predicate on the tiny per-doc
    span list) → anti-joined tokens reassemble in order. Span content
    hashing mirrors line_dedup's convention (fixed-width keys; collisions
    merge two contents' survivor elections — harness scale is certified
    by the string-keyed oracle).

    Output: (id, text_clean, n_tokens, n_tokens_kept) for EVERY input
    document."""
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    base = df.select(F.col(id_col), F.size(words).alias("n_tokens"))
    # Materialize the two hubs every downstream consumer re-references:
    # the tokenized corpus (fed to the span core, the survivor election,
    # the content hash, and the token explode) and the merged span table
    # (read by spans_txt twice via survivors/removed). The lazy form
    # re-planned both per consumer — audit measured ELEVEN documents
    # scans for this operator; 1 + base + the short-doc lookup after.
    with_words = _with_words(df, id_col, text_col, n).localCheckpoint(
        eager=True
    )
    spans = _merged_dup_spans(
        df, id_col, text_col, n, min_docs, with_words=with_words
    ).localCheckpoint(eager=True)
    spans_txt = spans.join(with_words, id_col).select(
        F.col(id_col),
        "ms",
        "me",
        F.xxhash64(
            F.concat_ws(
                " ", F.expr("slice(__words, ms + 1, me - ms)")
            )
        ).alias("__ch"),
    )
    survivors = (
        spans_txt.select(
            "__ch",
            F.struct(F.col(id_col).alias("__id"), F.col("ms").alias("__s")).alias(
                "__key"
            ),
        )
        .groupBy("__ch")
        .agg(F.min("__key").alias("__first"))
    )
    removed = spans_txt.join(
        survivors.withColumnRenamed("__ch", "__ch_s"),
        (F.col("__ch") == F.col("__ch_s"))
        & (
            (F.col(id_col) != F.col("__first.__id"))
            | (F.col("ms") != F.col("__first.__s"))
        ),
    ).select(F.col(id_col).alias("__rid"), "ms", "me")
    toks = with_words.select(
        F.col(id_col), F.posexplode("__words").alias("__idx", "__tok")
    )
    kept = toks.join(
        removed,
        (toks[id_col] == F.col("__rid"))
        & (F.col("__idx") >= F.col("ms"))
        & (F.col("__idx") < F.col("me")),
        "left_anti",
    )
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            " ",
            F.expr(
                "transform(array_sort(collect_list(struct(__idx, __tok))),"
                " s -> s.__tok)"
            ),
        ).alias("text_clean"),
        F.count(F.lit(1)).alias("n_tokens_kept"),
    )
    short = base.join(with_words.select(id_col), id_col, "left_anti").join(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    return (
        base.join(rebuilt, id_col, "left")
        .join(
            short.select(F.col(id_col), F.col(text_col).alias("__orig")),
            id_col,
            "left",
        )
        .select(
            F.col(id_col),
            F.coalesce("text_clean", "__orig", F.lit("")).alias("text_clean"),
            "n_tokens",
            F.coalesce(
                "n_tokens_kept",
                F.when(F.col("__orig").isNotNull(), F.col("n_tokens")),
                F.lit(0),
            )
            .cast("long")
            .alias("n_tokens_kept"),
        )
    )


def blocked_er_pairs(
    df: DataFrame,
    id_col: str,
    compare_col: str,
    block_cols: Sequence[str],
    max_dist: int = 4,
    max_block: int = 10_000,
    audit=None,
) -> DataFrame:
    """Entity-resolution candidate pairs: records that share ALL
    ``block_cols`` values (the blocking key) and whose ``compare_col``
    values sit within ``max_dist`` Levenshtein edits. Classic two-stage
    record linkage — structured attributes partition the corpus into
    blocks, the expensive string comparison runs only inside a block.

    The complement of edit_distance_pairs (free-text corpora, inferred
    prefix fingerprints): here the blocking key is EXPLICIT domain
    structure (brand + product line, zip + birth year, ...), which is the
    right tool when records carry typed attributes. Cost is
    O(Σ|block|²) Levenshtein calls — the equi-join on the block key is
    one shuffle, and Catalyst turns the a<b self-join into a sort-merge
    on the block columns, never a cartesian. Blocks above ``max_block``
    are dropped loudly (an unbounded block means the blocking key is
    non-selective — pick a better key) rather than silently exploding
    the pair space — and the drop is NEVER silent: a CollectMetrics
    node (``df.observe``, the lsh_bucket_audit idiom) on the block-size
    table records ``n_blocks`` / ``n_dropped_blocks`` /
    ``n_dropped_rows`` / ``max_block_size`` / ``n_candidate_pairs``
    (the Σ C(|block|,2) budget over KEPT blocks — the exact upper bound
    on emitted pairs) under the name ``er_block_audit``; pass a
    ``pyspark.sql.Observation`` as ``audit`` to read them after an
    action, or call ``er_block_stats`` for a guaranteed standalone
    audit of an empty-result run.

    Output: (id_a, id_b, dist) with id_a < id_b."""
    b = [F.col(c) for c in block_cols]
    sized = df.groupBy(*b).agg(F.count("*").alias("__bn"))
    # coalesce: F.sum / F.max over an EMPTY block table yield NULL, not 0
    # (same defect class as the lsh_bucket_audit r9 ADVICE fix)
    sized = sized.observe(
        audit if audit is not None else "er_block_audit",
        F.count(F.lit(1)).alias("n_blocks"),
        F.coalesce(
            F.sum((F.col("__bn") > max_block).cast("long")), F.lit(0).cast("long")
        ).alias("n_dropped_blocks"),
        F.coalesce(
            F.sum(F.when(F.col("__bn") > max_block, F.col("__bn"))), F.lit(0)
        ).alias("n_dropped_rows"),
        F.coalesce(F.max("__bn"), F.lit(0)).alias("max_block_size"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("__bn") <= max_block,
                    (F.col("__bn") * (F.col("__bn") - 1) / 2).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("n_candidate_pairs"),
    )
    left = (
        df.select(*b, F.col(id_col).alias("id_a"), F.col(compare_col).alias("__ta"))
        .join(sized.filter(F.col("__bn") <= max_block).drop("__bn"), list(block_cols))
    )
    right = df.select(
        *[F.col(c).alias(f"__r_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        F.col(compare_col).alias("__tb"),
    )
    cond = F.lit(True)
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__r_{c}"))
    cond = cond & (F.col("id_a") < F.col("id_b"))
    # Same in-block comparison discipline as edit_distance_pairs
    # (round-5 backport): a length-difference prefilter (|len a - len b|
    # is a lower bound on edit distance, evaluated before the DP) and
    # the THRESHOLDED levenshtein(l, r, k) form — banded O(n·k) DP with
    # early exit (returns -1 above k) instead of the full O(n²) matrix.
    # Semantics identical: dist in [0, max_dist]. Measured on the sf0.1
    # part-name rep workload (6100 pairs through the block join): full
    # lev no prefilter 0.401s -> banded + prefilter 0.206s (1.9x); the
    # ER entry's residual cost is CC, not the comparison
    # (docs/SCALING.md round-5 note).
    cond = cond & (
        F.abs(F.length("__ta") - F.length(F.col("__tb"))) <= max_dist
    )
    return (
        left.join(right, cond)
        .withColumn("dist", F.levenshtein("__ta", "__tb", max_dist))
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select("id_a", "id_b", "dist")
    )


def er_block_stats(
    df: DataFrame,
    block_cols: Sequence[str],
    max_block: int = 10_000,
) -> DataFrame:
    """Standalone ER blocking audit (the lsh_bucket_stats counterpart):
    one row with the block count, the largest block, how many blocks /
    rows the ``max_block`` circuit breaker drops, and the Σ C(|block|,2)
    candidate-pair budget of the KEPT blocks — the exact upper bound on
    what blocked_er_pairs can emit. Runs as its own small job
    (block-cardinality-sized), so it is available even when the pair
    query itself returns nothing and AQE empty-relation propagation
    could lose the in-plan ``er_block_audit`` observation."""
    sizes = df.groupBy(*[F.col(c) for c in block_cols]).agg(
        F.count(F.lit(1)).alias("n")
    )
    # coalesce: on an EMPTY input table the audit must read all-zeros,
    # not NULLs (same class as the lsh_bucket_audit r9 ADVICE fix)
    return sizes.agg(
        F.count(F.lit(1)).alias("n_blocks"),
        F.coalesce(
            F.sum((F.col("n") > max_block).cast("long")), F.lit(0).cast("long")
        ).alias("n_dropped_blocks"),
        F.coalesce(
            F.sum(F.when(F.col("n") > max_block, F.col("n"))), F.lit(0)
        ).alias("n_dropped_rows"),
        F.coalesce(F.max("n"), F.lit(0)).alias("max_block_size"),
        F.coalesce(
            F.sum(
                F.when(
                    F.col("n") <= max_block,
                    (F.col("n") * (F.col("n") - 1) / 2).cast("long"),
                )
            ),
            F.lit(0),
        ).alias("n_candidate_pairs"),
    )


def resolve_entities(
    df: DataFrame,
    id_col: str,
    compare_col: str,
    block_cols: Sequence[str],
    max_dist: int = 4,
) -> DataFrame:
    """End-to-end entity resolution: blocked candidate pairs →
    connected components → canonical entity id (min member id). The
    match graph is transitive-closed on purpose — A≈B and B≈C put all
    three in one entity even when lev(A,C) > max_dist, which is the
    standard (and debatable, hence documented) ER clustering semantics.

    Scale shape — REPRESENTATIVE COLLAPSE before the quadratic stages:
    records sharing the exact (block, compare) value are a distance-0
    clique, so each distinct value group is collapsed to its min-id
    representative FIRST (one exact groupBy, the cheap op). Pairing and
    component propagation then run on the representative table, whose
    size is bounded by |blocks| × |distinct compare values| — on a
    dirty-duplicate-heavy corpus (the whole reason ER runs) that bound
    is value-vocabulary-shaped and essentially independent of row count,
    where the naive member-level graph grows quadratically inside every
    duplicate group (measured on the harness part table at sf0.1:
    20 000 rows collapse to 8 372 reps, 180 206 member pairs to 27 863
    rep pairs; the residual runtime is CC's per-round fixed cost). Components over the rep
    graph equal components over the member graph: within-group edges
    are absorbed by the collapse, and any cross-group edge exists at
    the rep level iff it exists at the member level (Levenshtein only
    sees the shared value). Every member's id ≥ its rep's id, so the
    min-label component of the reps IS the min member id — labels then
    broadcast back through the group mapping with one join.

    Output: (id, entity_id, is_canonical)."""
    b = [F.col(c) for c in block_cols]
    groups = df.groupBy(*b, F.col(compare_col)).agg(
        F.min(id_col).alias("__rep")
    )
    reps = groups.select(
        *b, F.col(compare_col), F.col("__rep").alias(id_col)
    )
    pairs = blocked_er_pairs(reps, id_col, compare_col, block_cols, max_dist)
    rep_ids = reps.select(F.col(id_col))
    comp = connected_components(rep_ids, pairs.select("id_a", "id_b"), id_col)
    # NULL-SAFE join back to the group mapping: a record with NULL in
    # the compare or a block column still belongs to its (NULL-keyed)
    # group — groupBy keeps NULL keys but a plain name-list equi-join
    # would drop the row, so those records silently got no entity_id
    # at all (r9 review). eqNullSafe keeps the per-record contract:
    # every input row labeled, NULL-valued ones as their own entity.
    import functools
    import operator

    m = df.select(*b, F.col(compare_col), F.col(id_col)).alias("m")
    g = groups.alias("g")
    cond = functools.reduce(
        operator.and_,
        [
            F.col(f"m.{c}").eqNullSafe(F.col(f"g.{c}"))
            for c in [*block_cols, compare_col]
        ],
    )
    members = m.join(g, cond).select(
        F.col(f"m.{id_col}").alias(id_col), F.col("g.__rep").alias("__rep")
    )
    return members.join(
        comp.select(F.col(id_col).alias("__rep"), "component"), "__rep"
    ).select(
        F.col(id_col),
        F.col("component").alias("entity_id"),
        (F.col(id_col) == F.col("component")).alias("is_canonical"),
    )


def cross_split_contamination(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Eval-split decontamination: val/test documents whose n-gram Jaccard
    against ANY train document reaches ``threshold`` — the cross-split
    complement of within-corpus dedup. An eval document near-duplicating
    a train document silently inflates every benchmark run on it; this
    is the screen train/test protocols run AFTER splitting (dedup before
    splitting cannot catch near-dups that straddle the cut).

    Shape: the split assignment is the zero-shuffle hash_split; shingles
    build once over the whole corpus and partition into train/eval
    postings; candidates come from the shared-shingle equi-join (never
    |train|×|eval|); exact Jaccard verifies candidates; the best train
    match per eval doc survives via one (jaccard DESC, train id ASC)
    window.

    Output: (doc_id, split, train_match, jaccard) for contaminated eval
    docs."""
    from .text import hash_split  # local: avoid a module-level ext.text cycle

    split = hash_split(df.select(F.col(id_col)), id_col).select(
        F.col(id_col), "split"
    )
    # The shingle+split table is the hub read by sizes/train/eval —
    # materialized so the tokenize-explode pass runs once (audit: 8
    # documents scans without; the staging table a production
    # decontamination job would write anyway).
    sh = (
        word_shingles(df, id_col, text_col, n=n)
        .join(split, id_col)
        .localCheckpoint(eager=True)
    )
    sizes = sh.groupBy(id_col, "split").agg(F.count("*").alias("n_sh"))
    train = sh.filter(F.col("split") == "train").select(
        F.col(id_col).alias("train_match"), F.col("shingle")
    )
    ev = sh.filter(F.col("split") != "train").select(
        F.col(id_col), F.col("split"), F.col("shingle")
    )
    inter = (
        ev.join(train, "shingle")
        .groupBy(id_col, "split", "train_match")
        .agg(F.count("*").alias("inter"))
    )
    ne = sizes.select(F.col(id_col), F.col("n_sh").alias("n_e"))
    nt = sizes.select(
        F.col(id_col).alias("train_match"), F.col("n_sh").alias("n_t")
    )
    jac = F.col("inter") / (F.col("n_e") + F.col("n_t") - F.col("inter"))
    scored = (
        inter.join(ne, id_col)
        .join(nt, "train_match")
        .withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= threshold)
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.col("jaccard").desc(), F.col("train_match").asc()
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            id_col, "split", "train_match", F.round("jaccard", 6).alias("jaccard")
        )
    )


def sorted_neighborhood_pairs(
    df: DataFrame,
    id_col: str,
    compare_col: str,
    window: int = 3,
    max_dist: int = 4,
) -> DataFrame:
    """Entity-resolution candidates by SORTED NEIGHBORHOOD (Hernandez &
    Stolfo 1995): sort the compare values, pair each with its ``window``
    successors, verify with Levenshtein — the blocking alternative when
    NO clean structured key exists (blocked_er_pairs needs one; typos in
    the leading characters defeat prefix buckets; sorted neighbors catch
    mid-string edits because near-identical strings sort adjacently).

    Scale shape mirrors resolve_entities' representative collapse: the
    sort/rank runs over DISTINCT values (value-vocabulary-sized), each
    value represented by its min id; the successor join is an EQUI-join
    on rank+k for k=1..window (offsets exploded — no range join), and
    only |vocab|·window pairs ever reach the edit distance. The global
    rank rides the two-pass distributed_row_number (range exchange +
    in-bucket windows, bit-identical numbering — r11: the former
    unpartitioned rank window funneled the vocabulary through ONE
    partition, and a 100 TB corpus's value vocabulary is data-sized,
    not domain-bounded; the executed-plan audit flagged it).

    Output: (id_a, id_b, dist) with id_a < id_b (min/max normalized —
    representative ids follow value order, not id order)."""
    from ..operators.window import distributed_row_number

    reps = df.groupBy(F.col(compare_col).alias("v")).agg(
        F.min(id_col).alias("rid")
    )
    ranked = distributed_row_number(
        reps, [F.col("v").asc(), F.col("rid").asc()], out_col="rn"
    ).localCheckpoint(eager=True)
    offsets = F.explode(
        F.array(*[F.lit(k) for k in range(1, window + 1)])
    ).alias("k")
    probes = ranked.select(
        F.col("v").alias("va"), F.col("rid").alias("ida"), "rn", offsets
    ).withColumn("rn_b", F.col("rn") + F.col("k"))
    cand = probes.join(
        ranked.select(
            F.col("v").alias("vb"), F.col("rid").alias("idb"),
            F.col("rn").alias("rn_b"),
        ),
        "rn_b",
    )
    dist = F.levenshtein("va", "vb", max_dist)
    return (
        cand.withColumn("dist", dist)
        .filter((F.col("dist") >= 0) & (F.col("dist") <= max_dist))
        .select(
            F.least("ida", "idb").alias("id_a"),
            F.greatest("ida", "idb").alias("id_b"),
            F.col("dist").cast("long").alias("dist"),
        )
        .distinct()
    )


def incremental_exact_dedup(
    old: DataFrame, new: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """INCREMENTAL exact dedup — the production pattern for a corpus that
    grows in snapshots: the old corpus reduces once to its digest index
    (the reusable artifact a pipeline persists between runs), and only
    the DELTA is hashed and joined against it, so ingest cost tracks
    the delta, never the accumulated corpus. Each new document gets a
    three-way verdict:

      - ``dup_of_old``: digest already in the old index (canonical = the
        old corpus's min id for that digest);
      - ``dup_of_new``: first seen within this delta (canonical = the
        delta's min id — first-occurrence-wins, same survivor rule as
        exact_dedup);
      - ``unique``: genuinely new content.

    Two digest-keyed aggregates + one join on the digest — all
    map-side combinable, and the old index side is the one a real
    deployment reads back from storage rather than recomputing (here it
    derives from ``old`` directly; swap in a saved index table for the
    steady state).

    Output: (id, status, canonical_id). NULL-text documents hash to a
    per-document sentinel (see _content_hash): each gets its own
    'unique' verdict — the r8 form's md5(NULL) = NULL key fell out of
    the null-unsafe digest join and the row vanished from the output
    entirely (r9 review)."""
    oh = old.select(
        F.col(id_col), _content_hash(text_col, id_col).alias("__h")
    ).groupBy("__h").agg(F.min(id_col).alias("__old_id"))
    nh = new.select(
        F.col(id_col), _content_hash(text_col, id_col).alias("__h")
    )
    nmin = nh.groupBy("__h").agg(F.min(id_col).alias("__first_new"))
    return (
        nh.join(nmin, "__h")
        .join(oh, "__h", "left")
        .select(
            F.col(id_col),
            F.when(F.col("__old_id").isNotNull(), F.lit("dup_of_old"))
            .when(F.col(id_col) > F.col("__first_new"), F.lit("dup_of_new"))
            .otherwise(F.lit("unique"))
            .alias("status"),
            F.when(F.col("__old_id").isNotNull(), F.col("__old_id"))
            .when(F.col(id_col) > F.col("__first_new"), F.col("__first_new"))
            .otherwise(F.col(id_col))
            .alias("canonical_id"),
        )
    )


def fs_match_scores(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    fields: Sequence[tuple],
    top_k: int = 50,
    max_block: int = 10_000,
    ndigits: int = 6,
) -> DataFrame:
    """Fellegi–Sunter probabilistic record-linkage scoring over blocked
    candidate pairs: each comparison field carries fixed (m, u)
    probabilities — P(agree | match) and P(agree | non-match) — and a
    pair's weight is the sum of per-field log2 likelihood ratios,
    log2(m/u) on agreement and log2((1−m)/(1−u)) on disagreement. The
    classical linkage score (Fellegi & Sunter 1969) the ER stack
    thresholds BEFORE transitive closure; the EM-fitted m/u estimation
    loop is the named upgrade (fixed expert weights are standard
    practice for first deployments and are what keeps this op a pure
    function of its inputs).

    ``fields``: sequence of (col, kind, m, u) with kind either
    ``"exact"`` or an int k meaning agreement = levenshtein ≤ k (banded,
    the blocked_er_pairs discipline). Per-field log weights are
    PRE-COMPUTED in Python and enter both engines as double literals,
    so the score is a deterministic sum of constants — hash-exact.

    Plan: one self-join per blocking key (a<b, sort-merge on the block
    columns, never cartesian) with oversize blocks dropped via the same
    max_block circuit breaker as blocked_er_pairs; agreement predicates
    and the weight sum evaluate inside whole-stage codegen; a single
    top-k window on (weight DESC, id_a, id_b) returns the review queue.

    Output: (rank, id_a, id_b, n_agree, weight)."""
    import math

    from pyspark.sql import Window

    b = [F.col(c) for c in block_cols]
    sized = df.groupBy(*b).agg(F.count("*").alias("__bn"))
    fcols = [c for c, _, _, _ in fields]
    left = df.select(
        *b,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in fcols],
    ).join(
        sized.filter(F.col("__bn") <= max_block).drop("__bn"), list(block_cols)
    )
    right = df.select(
        *[F.col(c).alias(f"__r_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in fcols],
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__r_{c}"))
    pairs = left.join(right, cond)

    weight = F.lit(0.0)
    agree_cnt = F.lit(0)
    for c, kind, m, u in fields:
        wa = float(math.log2(m / u))          # agreement weight
        wd = float(math.log2((1 - m) / (1 - u)))  # disagreement weight
        a, bb = F.col(f"__a_{c}"), F.col(f"__b_{c}")
        if kind == "exact":
            agree = a == bb
        else:
            k = int(kind)
            agree = (F.abs(F.length(a) - F.length(bb)) <= k) & (
                F.levenshtein(a, bb, k) >= 0
            )
        weight = weight + F.when(agree, F.lit(wa)).otherwise(F.lit(wd))
        # NULL field values: the weight's when().otherwise() already
        # scores them as DISAGREEMENT; coalesce keeps n_agree consistent
        # instead of NULL-propagating through the sum on exactly the
        # dirty pairs FS scoring exists for (r9 review)
        agree_cnt = agree_cnt + F.coalesce(agree.cast("int"), F.lit(0))
    scored = pairs.select(
        "id_a", "id_b", agree_cnt.alias("n_agree"),
        F.round(weight, ndigits).alias("weight"),
    )
    w = Window.orderBy(
        F.col("weight").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "id_a", "id_b", "n_agree", "weight")
    )


def minhash_lsh_md5_pairs(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    bands: int = 4,
    threshold: float = 0.2,
    ndigits: int = 4,
) -> DataFrame:
    """The FULL MinHash+LSH near-dup pipeline on a cross-engine-
    replayable hash: shingle → md5-based 31-bit base hash → k=16 affine
    min-permutations → band into ``bands`` buckets → in-bucket candidate
    pairs → EXACT Jaccard verification ≥ threshold. Same seeds, prime,
    banding and verify as the xxhash64 production tier
    (minhash_signatures / lsh_candidate_pairs — the scale path whose
    64-bit hash DuckDB cannot evaluate); here the base hash is
    pmod(int(md5(shingle)[:8], 16), 2³¹−1), so EVERY stage — signatures,
    bucket keys, candidate set, verified pairs — is bit-reproducible in
    SQL and the whole LSH mechanism hash-certifies, not just its verify
    step. a·x + b stays < 2⁶¹ (a, x < 2³¹), inside ANSI int64.

    Buckets key on the RAW per-band signature tuple (the xxhash64 band
    compression in band_keys is an equality-preserving optimization, not
    semantics); pair expansion uses the same sorted-collect_list nested
    transform as lsh_candidate_pairs (one shuffle, id_a < id_b by
    construction); the verify join computes exact set Jaccard on the
    string shingles.

    Output: (id_a, id_b, jaccard) for LSH candidates with
    jaccard >= threshold."""
    sh = word_shingles(docs, id_col, text_col, n=n).localCheckpoint(
        eager=True  # read by the signature agg AND the verify join
    )
    x = F.pmod(
        F.conv(F.substring(F.md5(F.col("shingle")), 1, 8), 16, 10).cast(
            "long"
        ),
        F.lit(_P),
    )
    mins = [
        F.min(F.pmod(F.lit(a) * x + F.lit(b), F.lit(_P))).alias(f"mh_{i}")
        for i, (a, b) in enumerate(_MINHASH_SEEDS)
    ]
    sigs = sh.groupBy(id_col).agg(*mins)
    k = len(_MINHASH_SEEDS)
    if not 1 <= bands <= k or k % bands != 0:
        raise ValueError(
            f"bands must divide the signature width {k}: got {bands}"
        )
    rpb = k // bands
    band_structs = [
        F.struct(
            F.lit(bi).alias("band"),
            *[
                F.col(f"mh_{bi * rpb + j}").alias(f"s{j}")
                for j in range(rpb)
            ],
        )
        for bi in range(bands)
    ]
    banded = sigs.select(
        F.col(id_col), F.explode(F.array(*band_structs)).alias("bk")
    ).select(
        id_col,
        F.col("bk.band").alias("band"),
        *[F.col(f"bk.s{j}").alias(f"s{j}") for j in range(rpb)],
    )
    buckets = (
        banded.groupBy("band", *[f"s{j}" for j in range(rpb)])
        .agg(F.array_sort(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expr = (
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids) - i - 1), "
        "y -> struct(x AS id_a, y AS id_b))))"
    )
    cands = (
        buckets.select(F.explode(F.expr(pair_expr)).alias("p"))
        .select("p.id_a", "p.id_b")
        .distinct()
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        cands.join(a, "id_a")
        .join(b, ["id_b", "shingle"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("n_sh").alias("na")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("n_sh").alias("nb")), "id_b")
        .withColumn(
            "jaccard",
            F.col("inter") * 1.0 / (F.col("na") + F.col("nb") - F.col("inter")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", F.round("jaccard", ndigits).alias("jaccard"))
    )


def fs_agreement_patterns(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    fields: Sequence[tuple],
    max_block: int = 10_000,
) -> DataFrame:
    """Agreement-PATTERN table for Fellegi–Sunter estimation: the same
    blocked (a < b) candidate pairs as fs_match_scores, collapsed to
    per-pattern counts — at most 2^|fields| rows however large the pair
    set, which is what makes EM over billions of pairs a constant-size
    problem (Winkler 1988's sufficient statistics). ``fields`` entries
    are (col, kind) with kind "exact" or an int edit-distance band,
    matching fs_match_scores.

    Output: (g1..gJ int in {0,1}, n bigint)."""
    b = [F.col(c) for c in block_cols]
    sized = df.groupBy(*b).agg(F.count("*").alias("__bn"))
    fcols = [c for c, _ in fields]
    left = df.select(
        *b,
        F.col(id_col).alias("id_a"),
        *[F.col(c).alias(f"__a_{c}") for c in fcols],
    ).join(
        sized.filter(F.col("__bn") <= max_block).drop("__bn"),
        list(block_cols),
    )
    right = df.select(
        *[F.col(c).alias(f"__r_{c}") for c in block_cols],
        F.col(id_col).alias("id_b"),
        *[F.col(c).alias(f"__b_{c}") for c in fcols],
    )
    cond = F.col("id_a") < F.col("id_b")
    for c in block_cols:
        cond = cond & (F.col(c) == F.col(f"__r_{c}"))
    pairs = left.join(right, cond)
    gs = []
    for i, (c, kind) in enumerate(fields, 1):
        a, bb = F.col(f"__a_{c}"), F.col(f"__b_{c}")
        if kind == "exact":
            agree = a == bb
        else:
            k = int(kind)
            agree = (F.abs(F.length(a) - F.length(bb)) <= k) & (
                F.levenshtein(a, bb, k) >= 0
            )
        # NULL fields score as DISAGREEMENT (g = 0), keeping the
        # documented g in {0,1} contract — a bare cast emitted NULL g
        # columns (3^J patterns) that the EM M-step dropped from
        # numerators while keeping in denominators (r9 review)
        gs.append(F.coalesce(agree.cast("int"), F.lit(0)).alias(f"g{i}"))
    return (
        pairs.select(*gs)
        .groupBy(*[f"g{i}" for i in range(1, len(fields) + 1)])
        .agg(F.count(F.lit(1)).alias("n"))
    )


def fs_em_weights(
    df: DataFrame,
    id_col: str,
    block_cols: Sequence[str],
    fields: Sequence[tuple],
    iterations: int = 5,
    p0: float = 0.1,
    m0: float = 0.9,
    u0: float = 0.1,
    max_block: int = 10_000,
    ndigits: int = 6,
) -> DataFrame:
    """EM-fitted Fellegi–Sunter (m, u) parameters — the named upgrade of
    fs_match_scores' fixed expert literals (Winkler 1988; the two-class
    latent-mixture EM on per-field agreement indicators):

      E-step  w(γ) = p·∏ⱼ mⱼ^γⱼ(1−mⱼ)^(1−γⱼ) / (that + (1−p)·∏ⱼ uⱼ^…)
      M-step  p = Σ n·w / Σ n,  mⱼ = Σ n·w·γⱼ / Σ n·w,
              uⱼ = Σ n·(1−w)·γⱼ / Σ n·(1−w)

    run for ``iterations`` UNROLLED declarative rounds over the
    agreement-pattern table (≤ 2^J rows — fs_agreement_patterns collapses
    the pair set to sufficient statistics first, so EM cost is
    independent of corpus size; the pattern table is localCheckpointed
    as the multi-round hub). Every M-step parameter is rounded to 12
    decimals IN BOTH ENGINES (the oracle replays the same unrolled
    recurrence): each iteration therefore starts from bit-identical
    params, so cross-engine float-summation drift over the ≤2^J-row
    aggregates cannot compound across rounds — the same
    round-at-the-grid determinism lever as pagerank, applied per
    iteration instead of once at the end.

    Output: one row per field — (field, m, u, wa, wd) with
    wa = log2(m/u), wd = log2((1−m)/(1−u)), rounded to ``ndigits``."""
    J = len(fields)
    patt = fs_agreement_patterns(
        df, id_col, block_cols, [(c, k) for c, k, *_ in fields],
        max_block=max_block,
    ).localCheckpoint(eager=True)
    spark = df.sparkSession
    params = spark.createDataFrame(
        [tuple([float(p0)] + [float(m0)] * J + [float(u0)] * J)],
        "p double, "
        + ", ".join(f"m{j} double" for j in range(1, J + 1))
        + ", "
        + ", ".join(f"u{j} double" for j in range(1, J + 1)),
    )
    for _ in range(iterations):
        pm = F.col("p")
        pu = F.lit(1.0) - F.col("p")
        for j in range(1, J + 1):
            g = F.col(f"g{j}")
            pm = pm * F.when(g == 1, F.col(f"m{j}")).otherwise(
                F.lit(1.0) - F.col(f"m{j}")
            )
            pu = pu * F.when(g == 1, F.col(f"u{j}")).otherwise(
                F.lit(1.0) - F.col(f"u{j}")
            )
        e = patt.crossJoin(F.broadcast(params)).withColumn(
            "w", pm / (pm + pu)
        )
        nw = F.col("n").cast("double") * F.col("w")
        nv = F.col("n").cast("double") * (F.lit(1.0) - F.col("w"))

        # Clamp every parameter to [1e-6, 1 - 1e-6] after the round: a
        # degenerate M-step (m or u hitting exactly 0/1 on a tiny or
        # collapsed pattern table) would zero BOTH mixture products for
        # some pattern and the next E-step divides by pm + pu = 0 (ANSI
        # throws). The standard EM guard, applied identically in the
        # oracle so the recurrence stays bit-matched.
        def _cl(x):
            return F.greatest(
                F.least(F.round(x, 12), F.lit(1.0 - 1e-6)), F.lit(1e-6)
            )

        aggs = [_cl(F.sum(nw) / F.sum(F.col("n").cast("double"))).alias("p")]
        for j in range(1, J + 1):
            g = F.col(f"g{j}").cast("double")
            aggs.append(_cl(F.sum(nw * g) / F.sum(nw)).alias(f"m{j}"))
        for j in range(1, J + 1):
            g = F.col(f"g{j}").cast("double")
            aggs.append(_cl(F.sum(nv * g) / F.sum(nv)).alias(f"u{j}"))
        params = e.agg(*aggs)
    # 1-row hub read by J union branches below — without the cut each
    # branch re-derives the whole unrolled EM chain (union-fan-out trap)
    params = params.localCheckpoint(eager=True)
    rows = []
    for j, (c, *_rest) in enumerate(fields, 1):
        m, u = F.col(f"m{j}"), F.col(f"u{j}")
        rows.append(
            params.select(
                F.lit(c).alias("field"),
                F.round(m, ndigits).alias("m"),
                F.round(u, ndigits).alias("u"),
                F.round(F.log2(m / u), ndigits).alias("wa"),
                F.round(
                    F.log2((F.lit(1.0) - m) / (F.lit(1.0) - u)), ndigits
                ).alias("wd"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out


def prefix_filter_jaccard_pairs(
    shingles: DataFrame,
    id_col: str,
    threshold: float,
    shingle_col: str = "shingle",
    ndigits: int = 4,
) -> DataFrame:
    """Set-similarity join via PREFIX FILTERING (Chaudhuri/Ganti/Kaushik
    2006; distributed form: Vernica, Carey & Li, SIGMOD 2010): for
    Jaccard ≥ t, two sets must share at least one element among each
    set's first ``|s| − ⌈t·|s|⌉ + 1`` elements under any GLOBAL total
    order — so only the prefix is indexed, shrinking both the inverted
    index and the candidate pair space vs the full-index self-join
    (``jaccard_pairs``). This is the named scale upgrade for the exact
    verification tier: at corpus scale the full index pairs every
    co-occurring shingle, while the prefix index pairs only the rare
    ones.

    The global order is (document frequency ASC, shingle ASC) — rarest
    first, the canonical choice: prefixes land on low-df shingles, so
    candidate lists stay short. The order is realized WITHOUT a global
    rank: each document sorts its own (df, shingle) pairs locally
    (array_sort on a doc-bounded list) and slices its prefix.

    Plan: one groupBy for df, one shuffle back onto shingles, a per-doc
    sort of doc-length-bounded arrays, candidate generation on the
    exploded prefix (self-join a<b, distinct), then verification joins
    the two FULL sets (array_intersect on broadcast-friendly sorted
    arrays) — emitted pairs carry exact Jaccard, provably identical to
    the brute-force join (the oracle IS the brute force).

    Output: (id_a, id_b, jaccard) — pairs with jaccard ≥ threshold."""
    sh = shingles.select(F.col(id_col).alias("__id"), F.col(shingle_col).alias("__s"))
    dfreq = sh.groupBy("__s").agg(F.count(F.lit(1)).alias("__df"))
    sets = (
        sh.join(dfreq, "__s")
        .groupBy("__id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("__df"), F.col("__s")))
            ).alias("__arr")
        )
        .select(
            "__id",
            F.expr("transform(__arr, e -> e.__s)").alias("__set"),
            F.size("__arr").alias("__n"),
        )
        .localCheckpoint(eager=True)  # read by candidates AND both verify sides
    )
    # prefix length: n - ceil(t*n) + 1
    plen = F.col("__n") - F.ceil(F.lit(threshold) * F.col("__n")).cast("int") + 1
    prefixes = sets.select(
        "__id", F.explode(F.slice("__set", F.lit(1), plen)).alias("__p")
    )
    cands = (
        prefixes.alias("a")
        .join(
            prefixes.alias("b"),
            (F.col("a.__p") == F.col("b.__p"))
            & (F.col("a.__id") < F.col("b.__id")),
        )
        .select(
            F.col("a.__id").alias("id_a"), F.col("b.__id").alias("id_b")
        )
        .distinct()
    )
    left = sets.select(
        F.col("__id").alias("id_a"),
        F.col("__set").alias("__sa"),
        F.col("__n").alias("__na"),
    )
    right = sets.select(
        F.col("__id").alias("id_b"),
        F.col("__set").alias("__sb"),
        F.col("__n").alias("__nb"),
    )
    inter = F.size(F.array_intersect("__sa", "__sb"))
    jac = inter * 1.0 / (F.col("__na") + F.col("__nb") - inter)
    return (
        cands.join(left, "id_a")
        .join(right, "id_b")
        .select("id_a", "id_b", F.round(jac, ndigits).alias("jaccard"), jac.alias("__j"))
        .filter(F.col("__j") >= threshold)
        .drop("__j")
    )


def golden_record(
    df: DataFrame,
    entity_col: str,
    order_col: str,
    attr_cols: Sequence[str],
) -> DataFrame:
    """Survivorship / golden-record construction: one row per entity
    where each attribute carries its LATEST NON-NULL value across the
    entity's versions (ordered by ``order_col``) — the canonical
    most-recent-wins merge policy an MDM/ER pipeline applies after
    matching, tolerant of sparse updates that only touch some fields.

    Plan: last(attr, ignorenulls=True) over the entity window bounded
    UNBOUNDED..UNBOUNDED, then one row kept per entity — a single
    shuffle on the entity key, every attribute resolved in the same
    window pass (no per-attribute join or self-union). Per-field
    policies (max-by-quality, source priority) swap the window function,
    not the plan shape.

    Determinism under ``order_col`` TIES (same-day snapshots): the
    window orders by (order_col, *attr_cols), so tied versions resolve
    by attribute value rather than arbitrary shuffle order — the r8
    order_col-only window made the golden record flip between runs on
    tied inputs, breaking the module's bit-reproducibility convention
    (r9 review).

    Output: (entity, <attr_cols...>) — one row per entity."""
    from pyspark.sql import Window

    w = (
        Window.partitionBy(entity_col)
        .orderBy(F.col(order_col).asc(), *[F.col(c).asc() for c in attr_cols])
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    picked = df.select(
        F.col(entity_col).alias("entity"),
        F.col(order_col).alias("__o"),
        *[
            F.last(F.col(c), ignorenulls=True).over(w).alias(c)
            for c in attr_cols
        ],
    )
    wr = Window.partitionBy("entity").orderBy(F.col("__o").desc())
    return (
        picked.withColumn("__rn", F.row_number().over(wr))
        .filter(F.col("__rn") == 1)
        .select("entity", *attr_cols)
    )
