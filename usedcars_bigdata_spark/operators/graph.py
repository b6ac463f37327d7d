"""Graph analytics over edge relations (beyond-reference extension; the
dedup stack's connected components and triangle counting live in ext/dedup —
this module holds the general-purpose iterative algorithms expressed as
unrolled declarative plans).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pagerank_unrolled(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 3,
    damping: float = 0.85,
    ndigits: int = 8,
) -> DataFrame:
    """PageRank with a FIXED number of unrolled iterations — one declarative
    plan, no driver-side loop state, no collect. Each iteration is
    contributions = edges ⋈ ranks (shuffle on src) → groupBy dst (shuffle on
    dst). The edge list and its degree join are MATERIALIZED once
    (localCheckpoint): Catalyst does NOT reuse un-exchanged subtrees
    across unrolled iterations, so the lazy form re-derived the edges
    from the raw fact table every iteration AND on both sides of the
    iteration join — measured 22 lineitem scans for the 3-iteration
    co-purchase entry, 1 after materialization. (Production PageRank
    persists its edge RDD for exactly this reason.) Unrolling (vs.
    iterate-to-convergence) is the right shape when k is a product
    decision (web-scale deployments run fixed k too); the
    convergence-driven variant needs per-round checkpointing like
    ext.dedup.near_dup_clusters and is the named upgrade path.

    Assumes no dangling nodes (every src has outdegree ≥ 1 — true for
    symmetric edge sets like co-occurrence graphs; a general deployment
    adds the dangling-mass redistribution term).

    Output: (node, pr) — pr rounded to ``ndigits`` (per-node contribution
    sums accumulate in engine-specific order; at rank magnitudes ~1/N the
    FP spread is ~1e-15, far below the rounding grid)."""
    e = edges.select(
        F.col(src).alias("src"), F.col(dst).alias("dst")
    ).localCheckpoint(eager=True)
    deg = e.groupBy("src").agg(F.count("*").alias("d"))
    n = deg.agg(F.count("*").alias("n"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        F.col("src").alias("node"), (F.lit(1.0) / F.col("n")).alias("pr")
    )
    # deg/e_deg re-plan from the materialized e — cheap shuffles on the
    # edge table, no fact-table re-derivation; a second checkpoint of
    # e_deg measured slower at harness scale (double materialization)
    # without removing any corpus work.
    e_deg = e.join(deg, "src")
    for _ in range(iterations):
        contribs = (
            e_deg.join(ranks, e_deg.src == ranks.node)
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("d")).alias("mass"))
        )
        ranks = contribs.crossJoin(F.broadcast(n)).select(
            F.col("dst").alias("node"),
            ((1.0 - damping) / F.col("n") + damping * F.col("mass")).alias("pr"),
        )
    return ranks.select("node", F.round("pr", ndigits).alias("pr"))


def triangle_stats(edges: DataFrame, src: str, dst: str, ndigits: int = 6) -> DataFrame:
    """Global triangle count + clustering coefficient for an undirected
    edge set. The classic two-join form on the CANONICAL orientation
    (a < b): paths a<b<c come from joining (a,b) with (b,c) on the shared
    middle vertex, then an equi-join back against the edge set closes the
    triangle — each triangle counted exactly once because its vertices
    appear in sorted order. Wedge volume is
    Σ_v out-deg(v)·in-deg(v) on the oriented graph, the standard bound;
    production graphs pre-orient by DEGREE (low→high) to cap it at
    O(m^1.5), noted as the upgrade path (the harness's co-purchase graph
    is near-regular, where id- and degree-orientation coincide in cost).
    Global clustering = 3·triangles / wedges, with wedges counted on the
    UNDIRECTED graph: Σ_v deg(v)·(deg(v)−1)/2.

    Output: one row (n_nodes, n_edges, n_triangles, clustering)."""
    # Canonicalize internally (least/greatest + distinct): an input
    # carrying both orientations of an edge would otherwise double-count
    # edges and inflate triangles/wedges (round-6 ADVICE — latent API
    # hazard; in-repo call sites already pass a < b).
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).alias("a"),
            F.greatest(F.col(src), F.col(dst)).alias("b"),
        )
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)  # read by 4 consumers below
    )
    x = e.select(F.col("a").alias("xa"), F.col("b").alias("xb"))
    y = e.select(F.col("a").alias("ya"), F.col("b").alias("yb"))
    z = e.select(F.col("a").alias("za"), F.col("b").alias("zb"))
    tri = (
        # wedge a<b<c: (a,b) ⋈ (b,c) on the shared middle vertex — the
        # canonical orientation makes b<c implicit (every edge has a<b)
        x.join(y, F.col("ya") == F.col("xb"))
        .join(z, (F.col("za") == F.col("xa")) & (F.col("zb") == F.col("yb")))
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    sym = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    wedges = deg.agg(
        F.count(F.lit(1)).alias("n_nodes"),
        F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("__w"),
    )
    n_edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        wedges.crossJoin(F.broadcast(n_edges))
        .crossJoin(F.broadcast(tri))
        .select(
            "n_nodes",
            "n_edges",
            "n_triangles",
            F.round(
                F.when(F.col("__w") > 0, 3.0 * F.col("n_triangles") / F.col("__w"))
                .otherwise(F.lit(0.0)),
                ndigits,
            ).alias("clustering"),
        )
    )


def common_neighbors_topk(
    edges: DataFrame, src: str, dst: str, k: int = 20
) -> DataFrame:
    """Common-neighbors link prediction: for node pairs NOT already
    adjacent, score = |N(u) ∩ N(v)|; return the top-k candidate links by
    (score DESC, a ASC, b ASC). Wedge generation is one self-join of the
    symmetrized adjacency on the CENTER node (each wedge a–c–b emits the
    unordered endpoint pair once via a < b), aggregated before the
    adjacency anti-join — so the pair table entering the anti-join is
    already collapsed to distinct candidate pairs. Wedge volume is
    Σ_v deg(v)², the irreducible cost of exact common-neighbor counting;
    at skewed-degree scale the standard cut is a per-node degree cap
    (drop hub centers, which predict poorly anyway) — the same
    loud-circuit-breaker pattern as ext.dedup's max_block.

    Output: (rank, node_a, node_b, n_common)."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    left = sym.select(F.col("b").alias("c"), F.col("a").alias("u"))
    right = sym.select(F.col("b").alias("c"), F.col("a").alias("v"))
    wedges = (
        left.join(right, "c")
        .where(F.col("u") < F.col("v"))
        .groupBy(F.col("u").alias("node_a"), F.col("v").alias("node_b"))
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    cand = wedges.join(
        sym.select(F.col("a").alias("node_a"), F.col("b").alias("node_b")),
        ["node_a", "node_b"],
        "left_anti",
    )
    w = Window.orderBy(
        F.col("n_common").desc(), F.col("node_a").asc(), F.col("node_b").asc()
    )
    return (
        cand.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("rank", "node_a", "node_b", "n_common")
    )


def label_propagation_unrolled(
    edges: DataFrame, src: str, dst: str, iterations: int = 3
) -> DataFrame:
    """Synchronous label propagation (community detection) with a FIXED
    number of unrolled iterations and a deterministic update rule: each
    node adopts the most frequent label among its neighbors, frequency
    ties broken by the SMALLEST label. Classic async LPA is
    famously nondeterministic (update order changes communities); the
    synchronous min-tie-break form is a pure function of the edge set,
    which is what makes it hash-oracle-checkable — and is the variant a
    reproducible pipeline wants anyway.

    Plan shape mirrors pagerank_unrolled: edges symmetrized and
    MATERIALIZED once (localCheckpoint — Catalyst re-derives
    un-exchanged subtrees per unrolled iteration), then each iteration
    is one join (labels onto edge endpoints, shuffle on the node key)
    + one (node, label) count + one max_by pick per node; every
    intermediate is node- or edge-cardinality-sized. Iterate-to-
    convergence needs per-round checkpointing (the near_dup_clusters
    pattern) and is the named upgrade path; fixed k is the production
    norm for bounded-latency community refreshes.

    Output: (node, label) — label = min node id of the community seed
    each node converged toward after k rounds."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(
            edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = sym.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("lbl")
    )
    for _ in range(iterations):
        nbr = sym.join(
            labels.withColumnRenamed("node", "b"), "b"
        ).select(F.col("a").alias("node"), "lbl")
        cnt = nbr.groupBy("node", "lbl").agg(F.count(F.lit(1)).alias("c"))
        # lexicographic MIN of (-count, label) = max count, min label.
        # Negating the COUNT (always numeric) instead of the label keeps
        # the tie-break valid for string node ids — the r8 -lbl form
        # cast string labels to NULL doubles, collapsing the tie-break
        # into run-to-run nondeterminism (r9 review)
        labels = cnt.groupBy("node").agg(
            F.min_by("lbl", F.struct(-F.col("c"), F.col("lbl"))).alias("lbl")
        )
    return labels.select("node", F.col("lbl").alias("label"))


def kcore_peel_trajectory(
    edges: DataFrame, src: str, dst: str, k: int = 3, rounds: int = 6
) -> DataFrame:
    """K-core peeling trajectory: ``rounds`` unrolled peel steps, each
    dropping nodes whose degree in the SURVIVING subgraph is < k, then
    the edges touching them. The output is the per-round (nodes, edges)
    census — a deterministic integer answer whether or not the peel has
    converged by the last round (when two consecutive rounds agree, the
    survivor set IS the k-core; the trajectory makes convergence itself
    visible instead of asserting it). Same unrolled-declarative shape as
    pagerank_unrolled: the symmetric edge set is materialized once
    (localCheckpoint — Catalyst re-derives un-exchanged subtrees per
    unrolled round otherwise), then each round is one degree aggregate +
    one semi-join per endpoint, all edge-cardinality-sized, and the
    surviving edge set is localCheckpointed per round (the
    bfs_layers precedent) — WITHOUT the per-round cut, round r's census
    re-derives rounds 1..r-1's join chains (O(rounds²·m) exchanges;
    measured 56s → 4s at sf0.01 under a vanilla 200-shuffle-partition
    session when the cut was added). Peeling is O(rounds · m) — the
    textbook distributed k-core; iterate-to-convergence adds the
    near_dup_clusters convergence test and is the named upgrade.

    Output: (round, n_nodes, n_edges) — undirected counts, exact ints."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    stats = []
    cur = sym
    for r in range(1, rounds + 1):
        deg = cur.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
        keep = deg.filter(F.col("d") >= k).select("a")
        cur = (
            cur.join(keep, "a")
            .join(keep.withColumnRenamed("a", "b"), "b")
            .select("a", "b")
            .localCheckpoint(eager=True)
        )
        stats.append(
            cur.agg(
                F.lit(r).alias("round"),
                F.count_distinct("a").alias("n_nodes"),
                (F.count(F.lit(1)) / 2).cast("bigint").alias("n_edges"),
            )
        )
    out = stats[0]
    for s in stats[1:]:
        out = out.unionByName(s)
    return out


def hits_unrolled(
    edges: DataFrame,
    src: str,
    dst: str,
    iterations: int = 2,
    top_k: int = 20,
    ndigits: int = 8,
) -> DataFrame:
    """HITS hubs-and-authorities on a directed edge set, ``iterations``
    unrolled rounds with L1 normalization each half-step:

        a(v) = Σ_{u→v} h(u) / Σ a        h(u) = Σ_{u→v} a(v) / Σ h

    One declarative plan per round — each half-step is edges ⋈ scores
    (shuffle on one endpoint) → groupBy the other endpoint, the same
    sparse matrix-vector product as pagerank_unrolled; the L1 mass is a
    1-row broadcast. The distinct edge set is materialized once. Scores
    are rounded: per-node contribution sums accumulate in engine-
    specific order with ~1e-15 relative spread, far below the rounding
    grid (pagerank precedent). Top-k authorities rank by (rounded score
    DESC, node ASC) — a deterministic set under the unique tie-break.

    Output: (rank, node, authority)."""
    if iterations < 1:
        # the score frame is only bound inside the loop — zero rounds
        # crashed with an opaque AttributeError (r9 review)
        raise ValueError(f"iterations must be >= 1: got {iterations}")
    e = (
        edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    hubs = e.select(F.col("u").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("h")
    )
    auth = None
    for _ in range(iterations):
        a_raw = (
            e.join(hubs.withColumnRenamed("node", "u"), "u")
            .groupBy("v")
            .agg(F.sum("h").alias("a"))
        )
        a_mass = a_raw.agg(F.sum("a").alias("m"))
        auth = a_raw.crossJoin(F.broadcast(a_mass)).select(
            F.col("v").alias("node"), (F.col("a") / F.col("m")).alias("a")
        )
        h_raw = (
            e.join(auth.withColumnRenamed("node", "v"), "v")
            .groupBy("u")
            .agg(F.sum("a").alias("h"))
        )
        h_mass = h_raw.agg(F.sum("h").alias("m"))
        hubs = h_raw.crossJoin(F.broadcast(h_mass)).select(
            F.col("u").alias("node"), (F.col("h") / F.col("m")).alias("h")
        )
    scored = auth.select("node", F.round("a", ndigits).alias("authority"))
    w = Window.orderBy(F.col("authority").desc(), F.col("node").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select("rank", "node", "authority")
    )


def resource_allocation_topk(
    edges: DataFrame,
    src: str,
    dst: str,
    k: int = 20,
    scale: float = 1e12,
) -> DataFrame:
    """Link prediction by the resource-allocation index (Zhou, Lü &
    Zhang 2009): for each NON-edge pair (a, b) sharing neighbors,
    RA(a,b) = Σ_{z ∈ Γ(a)∩Γ(b)} 1/deg(z). Chosen over Adamic-Adar's
    1/ln(deg) because 1/deg needs no libm call — each term is the IEEE
    double division ``scale/deg`` rounded to a bigint, so the per-pair
    SUM is exact integer arithmetic and the result hash-matches across
    engines regardless of summation order (ln() differs by 1 ulp between
    DuckDB and the JVM, which a Σ-then-round cannot hide).

    Plan: symmetrize → degree table → wedge self-join on the shared
    neighbor (the same bounded join as common_neighbors_topk: cost is
    Σ_z deg(z)², the graph's wedge count — hub caps are the 100 TB lever,
    not pair enumeration) → anti-join out existing edges → top-k by the
    exact integer score with (a, b) tie-break.

    Output: (node_a, node_b, n_common, ra_score) — ra_score = the
    integer sum / scale, rounded to 6.

    Input hygiene (r9 review, the triangle_stats/common_neighbors rule):
    edges are canonicalized (lo, hi), deduped, and self-loops dropped —
    the raw-orientation anti-join let an existing (hi, lo) edge survive
    as a 'predicted' link, and duplicate edges / self-loops corrupted
    the degree table and every RA term derived from it."""
    raw = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    e = (
        raw.filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    # term_z = round(scale / deg(z)) as bigint: bit-identical per z in
    # both engines, so order-free exact summation.
    term = deg.select(
        F.col("a").alias("z"),
        F.round(F.lit(scale) / F.col("d").cast("double")).cast("bigint").alias("t"),
    )
    l = sym.select(F.col("a").alias("na"), F.col("b").alias("z"))
    r = sym.select(F.col("a").alias("nb"), F.col("b").alias("z"))
    pairs = (
        l.join(r, "z")
        .filter(F.col("na") < F.col("nb"))
        .join(term, "z")
        .groupBy("na", "nb")
        .agg(F.count(F.lit(1)).alias("n_common"), F.sum("t").alias("s"))
    )
    non_edges = pairs.join(
        e.select(F.col("a").alias("na"), F.col("b").alias("nb")),
        ["na", "nb"],
        "left_anti",
    )
    w = Window.orderBy(
        F.col("s").desc(), F.col("na").asc(), F.col("nb").asc()
    )
    return (
        non_edges.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select(
            F.col("na").alias("node_a"),
            F.col("nb").alias("node_b"),
            F.col("n_common").cast("bigint").alias("n_common"),
            F.round(F.col("s").cast("double") / F.lit(scale), 6).alias(
                "ra_score"
            ),
        )
    )


def degree_assortativity(
    edges: DataFrame, src: str, dst: str, ndigits: int = 6
) -> DataFrame:
    """Degree assortativity coefficient (Newman 2002): the Pearson
    correlation of endpoint degrees over the DIRECTED edge list formed
    by symmetrizing each undirected edge (each edge contributes (d_a,
    d_b) and (d_b, d_a) — which is what makes the correlation symmetric).
    All moments Σx, Σx², Σxy ride exact bigints (degrees ≤ n, products
    < 2^63 for any realistic co-purchase graph); only the final closed
    form is double. Two shuffles: the degree aggregate and the
    edge-degree join (broadcastable when the degree table is small).

    Output: one row (n_edges, r)."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    da = deg.select(F.col("a").alias("__na"), F.col("d").alias("dx"))
    db = deg.select(F.col("a").alias("__nb"), F.col("d").alias("dy"))
    ed = (
        sym.join(da, sym.a == da.__na)
        .join(db, sym.b == db.__nb)
        .select("dx", "dy")
    )
    m = ed.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("dx").alias("sx"),
        F.sum("dy").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).alias("syy"),
    )
    md = F.col("m").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    num = md * F.col("sxy").cast("double") - sx * sy
    den = F.sqrt(
        (md * F.col("sxx").cast("double") - sx * sx)
        * (md * F.col("syy").cast("double") - sy * sy)
    )
    return m.select(
        (F.col("m") / 2).cast("bigint").alias("n_edges"),
        (F.round(num / den, ndigits) + 0.0).alias("r"),
    )


def bfs_layers(
    edges: DataFrame, src: str, dst: str, rounds: int = 4
) -> DataFrame:
    """Breadth-first layers from the highest-degree node (deterministic
    seed: max degree, min id tie-break), unrolled ``rounds`` hops as
    declarative joins — the traversal primitive the pagerank/label-prop/
    k-core tier lacked. Each round: frontier ⋈ edges → anti-join
    visited; the visited set is localCheckpointed per round so lineage
    stays O(1) (the connected-components discipline, ext/dedup.py).
    At 100 TB the frontier join shuffles on the node key; rounds are a
    fixed small constant (graph diameter of interest), not data-sized.

    Output: (dist, n_nodes) for dist 0..rounds, plus a (-1, n) row for
    in-graph nodes unreached within ``rounds`` hops."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.unionAll(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).localCheckpoint(eager=True)
    deg = sym.groupBy("a").agg(F.count(F.lit(1)).alias("d"))
    w = Window.orderBy(F.col("d").desc(), F.col("a").asc())
    seed = (
        deg.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(F.col("a").alias("node"))
    )
    visited = seed.select("node", F.lit(0).alias("dist")).localCheckpoint(
        eager=True
    )
    frontier = visited.select("node")
    for r in range(1, rounds + 1):
        nbrs = (
            frontier.join(sym, frontier.node == sym.a)
            .select(F.col("b").alias("node"))
            .distinct()
        )
        new = nbrs.join(visited, "node", "left_anti").select(
            "node", F.lit(r).alias("dist")
        )
        visited = visited.unionByName(new).localCheckpoint(eager=True)
        # Derive the next frontier from the JUST-CHECKPOINTED visited
        # rather than reusing `new` (whose lineage roots at the previous
        # checkpoint): with `frontier = new`, round r+1's neighbor join
        # re-executed round r's join+distinct+anti-join a second time —
        # one extra round of work per round, visible as a duplicated
        # Exchange subtree in the round plans (r12 optimization; the
        # filter on the materialized set is the same row set bit-for-bit).
        frontier = visited.filter(F.col("dist") == r).select("node")
    layers = visited.groupBy("dist").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    )
    nodes = sym.select(F.col("a").alias("node")).distinct()
    unreached = nodes.join(visited, "node", "left_anti").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_nodes")
    ).select(F.lit(-1).alias("dist"), "n_nodes")
    return layers.unionByName(unreached).select(
        F.col("dist").cast("int").alias("dist"), "n_nodes"
    )
