"""Graph operators over relational co-occurrence graphs (engine
extension; the reference has no graph analytics — SURVEY.md §2 covers
joins/aggregations, and this family generalizes them to iterative
message passing, the PageRank/label-propagation shape every large-scale
entity-resolution or link-analysis pipeline needs).

Everything is DataFrame-iterative: the per-iteration state lives in a
DataFrame, updates are keyed joins + aggregations (shuffle on the node
key), and nothing is collected to the driver — the GraphX/Pregel shape
without leaving Spark SQL. Ranks use the quantized-integer-sum trick
(FLOOR(x*1e12+0.5) summed as DECIMAL(38,0)) so every iteration is
bit-identical across engines/partitionings: float sums are
order-dependent, integer sums are not.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from financial_data_lakehouse_pipeline__spark.materialize import pin

#: Contribution quantum — 1e-12, same as the k-means centroid means.
_Q = 1e12


def cooccurrence_pairs(df: DataFrame, group_col: str, item_col: str) -> DataFrame:
    """Deduplicated co-occurrence pairs with src < dst (one row per
    undirected edge): items sharing a group value (parts in the same
    order, docs with the same fingerprint, ...) get an edge. Self-join
    on the group key (one shuffle). At scale, cap pathological group
    sizes first (a 10k-item group contributes 50M pairs) the same way
    the dedup operators cap posting lists.

    The deduplicated pair table is pinned (``materialize.pin``): every
    consumer of a co-occurrence graph re-references it from multiple
    plan branches (symmetrized union × per-iteration joins in
    pagerank/label-propagation; three self-join sides in triangle
    counting), and without materialization each branch re-runs the
    group self-join + distinct (measured at sf0.1: pagerank 6.8 → 4.9 s
    median)."""
    a = df.select(F.col(group_col).alias("__g"), F.col(item_col).alias("src"))
    b = df.select(F.col(group_col).alias("__g"), F.col(item_col).alias("dst"))
    return pin(
        a.join(b, "__g")
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def cooccurrence_edges(
    df: DataFrame, group_col: str, item_col: str
) -> DataFrame:
    """Undirected co-occurrence edges, symmetrized — (src, dst) in BOTH
    directions, the layout message-passing wants (see
    :func:`cooccurrence_pairs` for the one-row-per-edge form)."""
    pairs = cooccurrence_pairs(df, group_col, item_col)
    return pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )


def triangle_counts(pairs: DataFrame) -> DataFrame:
    """Per-node triangle counts over a src<dst pair list — the local
    clustering signal (community density) every graph-quality audit
    wants next to PageRank.

    Node-iterator on the ordered pair list: a triangle a<b<c is counted
    once as pairs(a,b) ⋈ pairs(b,c) ⋈ pairs(a,c) — the ordering makes
    each triangle appear exactly once, so no /3 correction and no
    direction blowup. Two equi-joins (shuffles on the shared endpoints);
    at scale, orient edges by degree (low→high) to bound the join
    fan-out on hub nodes (the standard heavy-hitter mitigation).

    Output: (node, n_triangles) for every node in the pair list
    (0 for triangle-free nodes).
    """
    p1 = pairs.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    p2 = pairs.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    p3 = pairs.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tris = p1.join(p2, "b").join(p3, ["a", "c"])
    per_node = (
        tris.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_triangles"))
    )
    nodes = (
        pairs.select(F.col("src").alias("node"))
        .unionByName(pairs.select(F.col("dst").alias("node")))
        .distinct()
    )
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0).cast("bigint")).alias("n_triangles")
    )


def pagerank(edges: DataFrame, iters: int = 2, damping: float = 0.85) -> DataFrame:
    """PageRank on a symmetric edge list, ``iters`` synchronous
    iterations, uniform init 1/N.

    Per iteration: contribution r_u/deg_u flows along each edge,
    quantized to an integer number of 1e-12 quanta BEFORE the per-node
    sum (exact DECIMAL arithmetic — deterministic under any partitioning
    or engine), then r_v = (1-d)/N + d * (sum/1e12). A symmetric graph
    has no dangling nodes, so no dangling-mass redistribution term.

    Scale shape: state is one (node, rank) DataFrame; each iteration is
    one broadcast-free equi-join edges⋈ranks on src (pre-partition both
    by the node key to make it shuffle-free) + one groupBy dst. No
    driver-side state at any size.

    Loop-invariant tables are pinned once (guide §2.4): every iteration
    references the symmetrized edge table and the degree table, so
    without materialization the plan re-derives them O(iters) times. A
    MEMORY_AND_DISK persist of the edges was measured slower than plain
    recompute (sf0.1, 2.4M edges, local[32], median of 4: 9.1 s vs
    5.3 s at iters=2 — columnar cache build plus serialized branch
    execution), and the pin faster than both. Co-partitioning the
    pinned tables on the join key was TRIED and does not survive the
    pin (round 14, VERDICT r13 #6): under AQE every materialization
    barrier — ``localCheckpoint`` and ``persist`` alike — reports
    ``UnknownPartitioning(0)`` at static-planning time (its final
    partitioning is not known until its adaptive sub-plan executes;
    verified in plans/r14/pagerank_copurchase_after.txt and a minimal
    repro), so EnsureRequirements re-inserts the join exchange
    regardless of any upstream ``repartition(N, key)``, which then only
    ADDS a shuffle. The rank table's lineage is cut with a lazy
    ``localCheckpoint`` every 5 iterations (a loop-lineage cut, not a
    reuse pin, so it holds under every pin mode).

    Contribution-less nodes (possible only if the caller passes a
    non-symmetric edge list — the parameter is just ``edges``) keep the
    damped baseline ``(1-d)/N`` via a left join instead of silently
    vanishing from the rank table.

    Output: (node, deg, pagerank).
    """
    edges = pin(edges.select("src", "dst"))
    deg = pin(
        edges.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        )
    )
    n = deg.agg(F.count(F.lit(1)).cast("bigint").alias("__n"))
    ranks = deg.crossJoin(F.broadcast(n)).select(
        "node", "deg", "__n", (F.lit(1.0) / F.col("__n").cast("double")).alias("r")
    )
    zero = F.lit(0).cast("decimal(38,0)")
    for i in range(iters):
        contrib = (
            edges.join(ranks, edges.src == ranks.node)
            .select(
                F.col("dst").alias("node"),
                F.floor(
                    (F.col("r") / F.col("deg").cast("double")) * F.lit(_Q)
                    + F.lit(0.5)
                ).cast("decimal(38,0)").alias("__c"),
            )
            .groupBy("node")
            .agg(F.sum("__c").alias("__s"))
        )
        ranks = (
            deg.join(contrib, "node", "left")
            .crossJoin(F.broadcast(n))
            .select(
                "node",
                "deg",
                "__n",
                (
                    F.lit(1.0 - damping) / F.col("__n").cast("double")
                    + F.lit(damping)
                    * (F.coalesce("__s", zero).cast("double") / F.lit(_Q))
                ).alias("r"),
            )
        )
        if (i + 1) % 5 == 0 and (i + 1) < iters:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks.select("node", "deg", F.col("r").alias("pagerank"))


def _canonical_pairs(edges: DataFrame) -> DataFrame:
    """Undirected edge list in canonical (small, large) form: self-loops
    dropped, both orientations collapsed to one row."""
    return (
        edges.select(
            F.least("src", "dst").alias("src"),
            F.greatest("src", "dst").alias("dst"),
        )
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star: every node u connects its strictly-larger neighbors
    to min(N(u) + {u}). One groupBy + one equi-join."""
    sym = edges.unionByName(
        edges.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy(F.col("src").alias("__u")).agg(
        F.least(F.min("dst"), F.first("src")).alias("__m")
    )
    return (
        sym.join(mins, sym.src == mins.__u)
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("__m").alias("dst"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star: key every edge by its larger endpoint u; connect u and
    all of its smaller neighbors to the minimum one."""
    dir_ = edges.select(
        F.greatest("src", "dst").alias("__u"), F.least("src", "dst").alias("__v")
    ).distinct()
    mins = dir_.groupBy("__u").agg(F.min("__v").alias("__m"))
    joined = dir_.join(mins, "__u")
    nbr = joined.filter(F.col("__v") != F.col("__m")).select(
        F.col("__v").alias("src"), F.col("__m").alias("dst")
    )
    self_ = mins.select(F.col("__u").alias("src"), F.col("__m").alias("dst"))
    return nbr.unionByName(self_).distinct()


def connected_components(
    edges: DataFrame,
    nodes: DataFrame | None = None,
    max_iterations: int = 30,
) -> DataFrame:
    """Connected components over an arbitrary edge list via the
    alternating large-star / small-star algorithm (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond") — every node gets the
    MINIMUM node id reachable from it as ``component_id``.

    Why not plain min-label propagation (the
    :func:`~financial_data_lakehouse_pipeline__spark.operators.dedup.duplicate_clusters`
    shape)? That converges in O(graph diameter) joins — fine for the
    small dense clusters a near-dup graph produces, quadratic pain on
    long chains (a 10k-event session chain = 10k rounds). Alternating
    star halves path lengths geometrically: O(log n) rounds on ANY graph
    shape, each round two groupBy+join passes over the current edge set,
    nothing driver-side but a per-round convergence checksum (one tiny
    action). At 100 TB this is the difference between a bounded number
    of shuffles and an unbounded-by-data-shape iteration count.

    Each round's edge set is ``localCheckpoint``-ed: lineage would
    otherwise double per round (same guard as duplicate_clusters).
    Convergence = canonical edge multiset stable across a full
    large+small round, detected with an order-insensitive
    (count, sum(xxhash64)) checksum; at the fixpoint the edge set is
    exactly a union of stars rooted at each component's minimum.

    ``nodes`` (optional, one ``node`` column) adds isolated nodes, which
    come back as their own singleton component.

    Output: (node, component_id) — one row per node that appears in
    ``edges`` (plus ``nodes`` if given).
    """
    # lazy checkpoints throughout the loop: the convergence checksum (or
    # next round's aggregation) is the forcing action anyway, so an
    # eager materialization pass per round would double the job count
    e = _canonical_pairs(edges).localCheckpoint(eager=False)

    def _checksum(df: DataFrame) -> tuple:
        row = df.agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("h"),
        ).collect()[0]
        return (row["n"], row["h"])

    prev = _checksum(e)
    converged = False
    for _ in range(max_iterations):
        e = _small_star(_large_star(e)).localCheckpoint(eager=False)
        cur = _checksum(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} rounds"
        )

    # Fixpoint edges are (member, root) stars; roots appear only as dst.
    roots = e.select(F.col("dst").alias("node")).distinct()
    labels = (
        e.select(F.col("src").alias("node"), F.col("dst").alias("component_id"))
        .unionByName(roots.select("node", F.col("node").alias("component_id")))
        # a root of one star can still be a member of another pre-final
        # round only at non-fixpoint; at fixpoint the min() is a no-op
        # for members and keeps roots at themselves.
        .groupBy("node")
        .agg(F.min("component_id").alias("component_id"))
    )
    if nodes is not None:
        labels = (
            nodes.select("node")
            .distinct()
            .join(labels, "node", "left")
            .select(
                "node",
                F.coalesce("component_id", F.col("node")).alias("component_id"),
            )
        )
    return labels


def link_prediction_jaccard(
    pairs: DataFrame, min_common: int = 1
) -> DataFrame:
    """Common-neighbor link prediction over a src<dst pair list: for
    every non-adjacent node pair sharing >= ``min_common`` neighbors,
    score = |N(a) ∩ N(b)| / |N(a) ∪ N(b)| (neighbor-set Jaccard) — the
    classic recommender/link-inference primitive.

    Candidates come from the wedge join (two edges sharing an endpoint),
    so cost follows wedge volume, never all-pairs; existing edges are
    removed with an anti-join. Counts and degrees are exact integers;
    the score is one double division.

    Output: (node_a, node_b, n_common, jaccard), node_a < node_b.
    """
    edges = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("deg")
    )
    # wedges: a - m - b with a < b  → candidate (a, b) per shared neighbor
    e1 = edges.select(F.col("dst").alias("m"), F.col("src").alias("node_a"))
    e2 = edges.select(F.col("src").alias("m"), F.col("dst").alias("node_b"))
    common = (
        e1.join(e2, "m")
        .filter(F.col("node_a") < F.col("node_b"))
        .groupBy("node_a", "node_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_common"))
        .filter(F.col("n_common") >= min_common)
    )
    # drop already-adjacent pairs
    cand = common.join(
        pairs,
        (common.node_a == pairs.src) & (common.node_b == pairs.dst),
        "left_anti",
    )
    da = deg.select(F.col("node").alias("node_a"), F.col("deg").alias("__da"))
    db = deg.select(F.col("node").alias("node_b"), F.col("deg").alias("__db"))
    return (
        cand.join(da, "node_a")
        .join(db, "node_b")
        .select(
            "node_a",
            "node_b",
            "n_common",
            (
                F.col("n_common").cast("double")
                / (F.col("__da") + F.col("__db") - F.col("n_common")).cast("double")
            ).alias("jaccard"),
        )
    )


def k_core(
    edges: DataFrame,
    k: int = 2,
    max_iterations: int = 100,
) -> DataFrame:
    """k-core decomposition membership: iteratively peel nodes of degree
    < k until the remaining subgraph has min degree >= k — the standard
    "dense cohesive subgraph" filter (spam/bot rings, co-purchase
    communities, collaboration cores).

    Each round: one degree aggregation — localCheckpoint-ed so the
    convergence check, the two anti-joins, and (on the final round) the
    caller all reuse the materialized result instead of re-running the
    aggregation per consumer — one weak-node filter, two anti-joins to
    drop their edges; the edge set only shrinks, and each round's
    survivor set is localCheckpoint-ed to keep lineage flat.
    Convergence = no weak nodes (one tiny count per round — O(peeling
    depth) driver actions). Peeling depth is data-dependent (a chain
    peels O(n/2) rounds at k=2); ``max_iterations`` bounds it and the
    operator raises rather than returning a non-fixpoint.

    Output: (node, deg) for surviving nodes, deg = degree within the
    core (>= k by construction).
    """
    e = _canonical_pairs(edges)
    e = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=False)
    for _ in range(max_iterations):
        # lazy: weak.isEmpty() / the next round's aggregation forces
        deg = e.groupBy(F.col("src").alias("node")).agg(
            F.count(F.lit(1)).cast("bigint").alias("deg")
        ).localCheckpoint(eager=False)
        weak = deg.filter(F.col("deg") < k).select("node")
        if weak.isEmpty():
            return deg
        e = (
            e.join(weak, e.src == weak.node, "left_anti")
            .join(weak, e.dst == weak.node, "left_anti")
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(f"k_core did not converge in {max_iterations} rounds")


def label_propagation(edges: DataFrame, iters: int = 2) -> DataFrame:
    """Synchronous label-propagation community detection over symmetrized
    (src, dst) edges: every node starts as its own label; each iteration
    every node adopts the most frequent label among its neighbors, ties
    broken by SMALLEST label — the deterministic variant (classic async
    LPA is order-dependent; synchronous + min-tiebreak makes the result
    a pure function of the graph, so a plain unrolled SQL oracle can
    replay it exactly — all-integer arithmetic, no floats anywhere).

    Each iteration is one keyed join (neighbor-label lookup) + one
    count aggregation + one argmax window over the SAME node
    partitioning — the Pregel shape, nothing on the driver. Fixed
    ``iters`` (2 in the corpus, matching the PageRank convention):
    enough to merge tight co-purchase clusters while keeping the
    oracle's unroll bounded; at scale run more iterations with the
    same per-iteration cost profile and localCheckpoint the label
    lineage every few rounds (the connected_components pattern).
    Isolated nodes never appear in a symmetrized edge list and are out
    of scope by construction.

    Output: (node, community) — community = converged-so-far label.
    """
    from pyspark.sql import Window

    # Loop-invariant edges: one materialization — the symmetrized union
    # and its upstream self-join otherwise re-execute per iteration
    # (guide §2.4). Co-partitioning on dst was tried and reverted; see
    # pagerank.
    edges = pin(edges.select("src", "dst"))
    labels = (
        edges.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("label"))
    )
    for _ in range(iters):
        nbr = edges.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(F.col("src").alias("node"), "label")
        counts = nbr.groupBy("node", "label").agg(
            F.count(F.lit(1)).alias("__c")
        )
        w = Window.partitionBy("node").orderBy(
            F.col("__c").desc(), F.col("label").asc()
        )
        labels = (
            counts.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select("node", "label")
        )
    return labels.select("node", F.col("label").alias("community"))
