"""Distributed graph operators.

Components come from the large-star/small-star algorithm (Kiveris et
al., "Connected Components in MapReduce and Beyond", SoCC'14), which
converges in O(log n) rounds on ANY topology — the difference between 3
rounds and 2000 rounds on a 2000-node path graph. `near_dup_clusters`
(operators/dedup.py) keeps per-hop min-label propagation instead: right
for near-dup graphs (tiny cliques, diameter 1-2), O(diameter) rounds on
long chains, which therefore go through `connected_components`.

Each star round is two map-reduce steps over the edge list:
- LARGE-STAR: every node u connects its LARGER neighbors to its current
  minimum m(u) = min(N(u) ∪ {u}) — long tails fold onto small labels.
- SMALL-STAR: every node u (edges oriented toward smaller ids) connects
  its smaller neighbors AND ITSELF to m(u) — stars flatten.

Both steps are one groupBy-min + one equi-join on node ids — exactly the
shuffle primitives everything else in this repo uses; no vertex-program
framework needed. The result is a star per component rooted at the
component's minimum node id.

Both convergence-checked loops (star components here, label propagation
in `near_dup_clusters`) run through `fixpoint`: each round's eager
checkpoint carries an `Observation` of the round's signature, so the
convergence test rides the job that builds the checkpoint. The other
iterative operators run a fixed number of rounds (their oracles unroll
K stages) and have no convergence test.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F


def _undirected(edges: DataFrame, src: str, dst: str) -> DataFrame:
    """Both directions of every edge as distinct (s, d) rows, self-loops
    dropped."""
    return (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .unionByName(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
    )


def _canonical(pairs: DataFrame, src: str, dst: str) -> DataFrame:
    """Every pair once as (u, v) with u < v, self-loops dropped."""
    return (
        pairs.select(F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def fixpoint(
    state: DataFrame,
    step: Callable[[DataFrame], DataFrame],
    signature: Sequence[str],
    max_iter: int,
    what: str,
) -> DataFrame:
    """Iterate ``state = step(state)`` until a round leaves the state's
    signature unchanged, and return that round's frame.

    Every round — the initial state included — is an eager
    `localCheckpoint` (lineage cut, so round k never replays rounds
    1..k-1) with an `Observation` attached via ``observe``: the job that
    builds the checkpoint also returns the signature, so the convergence
    test launches no job of its own. The signature is the row count plus
    the sum of each ``signature`` column taken as DECIMAL(38,0), exact
    for any BIGINT ids (a BIGINT sum of hash-derived ids overflows under
    ANSI). Callers pick columns whose sums move whenever the state does,
    or guard the result independently.

    Raises RuntimeError when ``max_iter`` rounds pass without a repeated
    signature — an unconverged labeling would silently split components."""

    def observed(df: DataFrame) -> tuple[DataFrame, dict]:
        obs = Observation()
        df = df.observe(
            obs,
            F.count(F.lit(1)).alias("__n"),
            *(F.sum(F.col(c).cast("decimal(38,0)")).alias(c) for c in signature),
        ).localCheckpoint()
        return df, obs.get

    state, prev = observed(state)
    for _ in range(max_iter):
        state, cur = observed(step(state))
        if cur == prev:
            return state
        prev = cur
    raise RuntimeError(
        f"{what}: not converged after {max_iter} rounds — raise max_iter"
    )


def _large_star(e: DataFrame) -> DataFrame:
    """e: undirected edges as (u, v) pairs, self-loop-free. Returns the
    large-star transform, deduplicated, as (u, v) with u < v."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    m = sym.groupBy("u").agg(F.min("v").alias("mn")).select(
        "u", F.least("u", "mn").alias("m")
    )
    out = (
        sym.filter(F.col("v") > F.col("u"))
        .join(m, "u")
        .select(F.col("m").alias("a"), F.col("v").alias("b"))
    )
    return _canonical(out, "a", "b")


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star transform of (u, v) pairs; output (u, v) with u < v."""
    # orient every edge toward the larger endpoint: (big, small)
    oriented = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    )
    m = oriented.groupBy("u").agg(F.min("v").alias("m"))
    joined = oriented.join(m, "u")
    # connect all small neighbors AND u itself to m
    out = joined.select(F.col("m").alias("a"), F.col("v").alias("b")).unionByName(
        joined.select(F.col("m").alias("a"), F.col("u").alias("b")).distinct()
    )
    return _canonical(out, "a", "b")


def connected_components(
    pairs: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components of an undirected edge list via alternating
    large-star/small-star — O(log n) rounds regardless of diameter.

    Returns (node, component) for every node incident to an edge, with
    component = the smallest node id in the component. The rounds run
    through `fixpoint` with an edge-multiset signature (count + id sums,
    observed on each round's checkpoint); because a stale signature
    could in principle collide, the labeling is then POSITIVELY verified
    against the ORIGINAL edges (both endpoints must land in one
    component) and the function raises rather than return a split
    component — correctness never rests on the signature.

    Scale: every round is groupBy-min + equi-join on node ids; edges only
    ever shrink toward the star form, and rounds are logarithmic, so a
    2000-hop chain converges in ~5 rounds where per-hop label propagation
    (`dedup.near_dup_clusters`) needs 2000."""
    # lazy: fixpoint's first observed checkpoint materializes it, and the
    # node list reads it instead of recomputing `pairs`
    e = _canonical(pairs, src, dst).localCheckpoint(eager=False)
    nodes = (
        e.select(F.col("u").alias("node"))
        .unionByName(e.select(F.col("v").alias("node")))
        .distinct()
    )
    e = fixpoint(
        e,
        lambda cur: _small_star(_large_star(cur)),
        ("u", "v"),
        max_iter,
        "connected_components",
    )

    # at the fixpoint the edges form stars rooted at component minima:
    # every non-root node appears as v (exactly once in a clean star; the
    # min-agg is insurance against duplicate leaf rows ever reaching the
    # output — the verification below still guards semantics).
    labels = (
        e.groupBy(F.col("v").alias("node"))
        .agg(F.min("u").alias("component"))
    )
    roots = nodes.join(
        labels.select("node"), "node", "left_anti"
    ).select("node", F.col("node").alias("component"))
    out = labels.unionByName(roots).localCheckpoint()

    # positive verification: every ORIGINAL edge must be intra-component
    la = out.select(F.col("node").alias("u"), F.col("component").alias("ca"))
    lb = out.select(F.col("node").alias("v"), F.col("component").alias("cb"))
    bad = (
        pairs.select(
            F.least(src, dst).alias("u"), F.greatest(src, dst).alias("v")
        )
        .filter(F.col("u") != F.col("v"))
        .join(la, "u")
        .join(lb, "v")
        .filter(F.col("ca") != F.col("cb"))
        .count()
    )
    if bad:
        raise RuntimeError(
            f"connected_components: {bad} edges cross components — "
            "fixpoint checksum collided; raise max_iter"
        )
    return out


def cooccurrence_pairs(
    df: DataFrame, key: str, item: str
) -> DataFrame:
    """Distinct co-occurring item pairs per key, counted across keys —
    the co-purchase edge builder: returns (pa, pb, cnt) with pa < pb
    where cnt = number of distinct keys containing both items.

    Shape (r9 optimization, guide §2.4 "remove shuffles outright"): ONE
    groupBy(key) shuffle + map-side pair generation from the per-key
    sorted item set, replacing the classic distinct → self-equi-join →
    groupBy chain. The old chain cost a distinct shuffle of (key, item)
    PLUS a self-join on key — broadcast at bench scale, but at 100 TB the
    (key, item) relation is billions of rows, far over any broadcast cap,
    so the join becomes a second full shuffle of both sides. Here the
    item list per key is bounded (lineitems per order), so collect_set
    per key is O(basket), the strict upper triangle of the sorted array
    reproduces a.item < b.item exactly, and only pair counts shuffle
    afterwards. Result-identical: collect_set dedups (key, item) the way
    distinct did, and each pair is emitted once per containing key.

    r10: the input is spread() on the GROUP KEY first. When the scan has
    fewer splits than defaultParallelism, spread() hash-repartitions by
    `key` into defaultParallelism partitions; any hash partitioning on
    `key` satisfies the groupBy's ClusteredDistribution, so Catalyst
    absorbs it and plans no second exchange (the hashed_classifier_gate
    pattern): the partial collect_set and the HOF pair generation run
    fanned out instead of on the single bench-SF scan partition. A/B at
    sf0.1 (copurchase edge set): 1.62 s → 0.88 s. At production split counts spread() is a
    no-op, and the groupBy plans its own single exchange — the same
    one-shuffle plan, without the fan-out."""
    from politicamente_etl_spark.operators.core import spread

    return (
        spread(df, key)
        .groupBy(key)
        .agg(F.array_sort(F.collect_set(item)).alias("__items"))
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(__items, (x, i) -> "
                    "transform(slice(__items, i + 2, size(__items)), "
                    "y -> named_struct('pa', x, 'pb', y))))"
                )
            ).alias("__p")
        )
        .select("__p.pa", "__p.pb")
        .groupBy("pa", "pb")
        .agg(F.count("*").alias("cnt"))
    )


def pagerank_integer(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iterations: int = 3,
    init: int = 10**12,
    damping_num: int = 85,
    damping_den: int = 100,
    personalize: DataFrame | None = None,
    edges_oriented_unique: bool = False,
) -> DataFrame:
    """Fixed-iteration PageRank over an undirected edge list, in exact
    integer arithmetic so the result is bit-identical on any engine and
    any partitioning (float summation order can never shift a rank).

    Every node starts at `init`; one iteration is
        r'(v) = ((den-num)·init) div den  +  (num · Σ_{u∈N(v)} r(u) div deg(u)) div den
    — the standard damped update with per-node teleport mass, scaled by
    `init` (ranks are "micro-masses", not probabilities; ordering and
    ratios are what the caller consumes). Dangling nodes cannot exist in
    a symmetrized edge list, so no dangling redistribution term is
    needed.

    Scale shape: per iteration ONE equi-join of the (node, rank) relation
    onto the edge list plus one groupBy(dst) sum — both partial-
    aggregated, both partitioned by node id; lineage is cut per round
    with localCheckpoint exactly like connected_components, so plans stay
    flat at any iteration count. The iteration count is fixed (the
    analytics contract is "K damped sweeps", not convergence detection),
    which also keeps the oracle expressible as K unrolled CTEs.

    `personalize`: an optional one-column DataFrame of seed node ids.
    When given, both the initial mass and the per-sweep teleport term
    are restricted to the seeds (random walk with restart) — rank then
    measures proximity to the seed set rather than global centrality.
    Seed sets are small by construction (they are the query), hence the
    broadcast.

    ``edges_oriented_unique``: caller contract that the input edge list
    is already DISTINCT with ``src < dst`` per row (the shape every
    groupBy(pa, pb)-built co-occurrence graph has). The symmetrized
    union of such a list is provably duplicate- and self-loop-free, so
    the defensive ``filter(s != d).distinct()`` — a full shuffle of the
    edge list — is skipped. Results are identical; only the redundant
    exchange goes."""
    und = edges.select(F.col(src).alias("s"), F.col(dst).alias("d")).unionByName(
        edges.select(F.col(dst).alias("s"), F.col(src).alias("d"))
    )
    if not edges_oriented_unique:
        und = und.filter(F.col("s") != F.col("d")).distinct()
    und = und.localCheckpoint()
    deg = und.groupBy("s").agg(F.count("*").alias("deg"))
    # Attach the source degree to the edge relation ONCE and pin its
    # layout (hash-partitioned by s) before checkpointing: every sweep's
    # probe join then needs NO exchange on the edge side — only the
    # (node, rank) relation moves per sweep, which is the claim that has
    # to hold at 100 TB where the edge list cannot be re-shuffled per
    # iteration (the old shape joined ranks⋈deg, then edges⋈that: one
    # extra node-relation join per sweep, and under sort-merge at scale
    # the edge list re-shuffled every sweep).
    und_deg = (
        und.join(deg, "s").repartition(F.col("s")).localCheckpoint(eager=False)
    )
    base = (damping_den - damping_num) * init // damping_den
    if personalize is not None:
        # Personalized PageRank: start mass AND teleport mass live only
        # on the seed set, so rank measures proximity to the seeds
        # (random walk with restart) instead of global centrality.
        seeds = personalize.select(
            F.col(personalize.columns[0]).alias("node")
        ).distinct().withColumn("__seed", F.lit(1))
        ranks = (
            deg.select(F.col("s").alias("node"))
            .join(F.broadcast(seeds), "node", "left")
            .select(
                "node",
                F.when(F.col("__seed").isNotNull(), F.lit(init))
                .otherwise(F.lit(0))
                .cast("long")
                .alias("rank"),
            )
        )
    else:
        seeds = None
        ranks = deg.select(
            F.col("s").alias("node"), F.lit(init).cast("long").alias("rank")
        )
    for it in range(iterations):
        # rank div deg is constant per source node, so evaluating it on
        # the joined edge row (instead of pre-joining ranks⋈deg) sums
        # the identical integers — bit-equal result, one join fewer.
        contrib = (
            und_deg.join(ranks, und_deg.s == ranks.node)
            .groupBy("d")
            .agg(F.sum(F.expr("rank div deg")).alias("sc"))
        )
        damped = F.expr(f"({damping_num} * sc) div {damping_den}")
        if seeds is None:
            rank_col = F.lit(base).cast("long") + damped
        else:
            rank_col = (
                F.when(F.col("__seed").isNotNull(), F.lit(base))
                .otherwise(F.lit(0))
                .cast("long")
                + damped
            )
        out = contrib.select(F.col("d").alias("node"), F.col("sc"))
        if seeds is not None:
            out = out.join(F.broadcast(seeds), "node", "left")
        ranks = out.select("node", rank_col.alias("rank"))
        # lineage cut per ROUND keeps plans flat at any iteration count;
        # the final round's plan is already flat (one join + one agg over
        # checkpointed inputs) and is consumed exactly once by callers,
        # so checkpointing it would only hide the sweep shape from
        # explain() without saving any recomputation
        if it < iterations - 1:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def kcore_peel(
    pairs: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Bounded k-core peeling (Matula & Beck 1983, distributed form): for
    ``rounds`` iterations, drop every node with degree < k and every edge
    touching one, and report the surviving graph size per round — the
    density-stratification probe that separates a graph's cohesive core
    from its tree-like fringe (round counts converging means the k-core
    has been reached; a fixed round budget keeps the operator a finite
    DAG, same contract as pagerank_integer's fixed sweeps).

    Returns (round, n_nodes, n_edges) for round = 0..rounds, where round
    0 is the input graph after dedup/orientation. Deterministic —
    peeling is simultaneous (all sub-k nodes drop together), so there is
    no tie-break ambiguity.

    Scale shape per round: one degree aggregate (groupBy node, map-side
    combined) + two semi-joins (src-keep, dst-keep) — the same shuffle
    primitives as connected_components; edges only shrink. The stats
    rows are lazy one-row aggregates unioned at the end. Each round's
    edge list is localCheckpointed: round r's plan references round r-1
    THREE times (degree agg twice via the endpoint union, then the
    semi-join left side), so an unmaterialized lineage re-runs the
    input-edge build 3^rounds times — the same truncate-the-DAG
    discipline as near_dup_clusters and cosine_topk_ivf, and at scale
    the per-round materialization is exactly the persisted frontier a
    production peeler keeps anyway (edges only shrink)."""
    e = _canonical(pairs, src, dst).localCheckpoint()

    def stats(edges: DataFrame, rnd: int) -> DataFrame:
        nodes = edges.select(F.col("u").alias("n")).union(
            edges.select(F.col("v").alias("n"))
        )
        return edges.agg(
            F.lit(rnd).cast("int").alias("round"),
            F.count("*").cast("long").alias("n_edges"),
        ).crossJoin(
            nodes.agg(F.countDistinct("n").cast("long").alias("n_nodes"))
        ).select("round", "n_nodes", "n_edges")

    out = stats(e, 0)
    cur = e
    for r in range(1, rounds + 1):
        deg = (
            cur.select(F.col("u").alias("n"))
            .union(cur.select(F.col("v").alias("n")))
            .groupBy("n")
            .agg(F.count("*").alias("deg"))
        )
        keep = deg.filter(F.col("deg") >= k).select("n")
        cur = (
            cur.join(keep.withColumnRenamed("n", "u"), "u", "left_semi")
            .join(keep.withColumnRenamed("n", "v"), "v", "left_semi")
            .localCheckpoint()
        )
        out = out.union(stats(cur, r))
    return out


def adamic_adar(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 256,
    top_k: int = 50,
) -> DataFrame:
    """Adamic-Adar link prediction (Adamic & Adar 2003): score every
    NON-adjacent pair (u, v) by Σ_{w ∈ N(u)∩N(v)} 1/ln(deg(w)) — the
    classic common-neighbor predictor where rare shared neighbors count
    more than hubs. Weights are micro-snapped integers
    round(1e6/ln(deg)) so the ranking is engine-exact; a common
    neighbor always has deg ≥ 2 (it touches two distinct nodes), so
    ln(deg) > 0 by construction.

    Scale shape: wedge enumeration is the self-join of the adjacency
    list on the CENTER node — exactly the shape whose cost is
    Σ_w deg(w)², so hubs are the scale risk, not edge volume. Two
    controls: (1) `max_degree` drops hub centers BEFORE the self-join
    (their per-wedge weight 1/ln(deg) is the smallest in the graph, so
    truncation biases scores down by a bounded, documented amount —
    the standard AA-at-scale tradeoff); (2) the weight table rides the
    center-node join, so the wedge rows carry only (u, v, w_micro) —
    constant width through the shuffle. The candidate→score step is
    one partial-aggregated groupBy; known edges leave via a left-anti
    join on the canonical (min, max) pair; the top-k is TakeOrdered
    (no global sort).

    Returns (node_a, node_b, n_common, aa_micro), node_a < node_b,
    the top_k highest-scored absent links.
    """
    und = _undirected(edges, src, dst)
    ctr = (
        und.groupBy(F.col("s").alias("w"))
        .agg(F.count("*").alias("deg"))
        .filter((F.col("deg") >= 2) & (F.col("deg") <= max_degree))
        .select(
            "w",
            F.expr("CAST(round(1e6 / ln(CAST(deg AS DOUBLE))) AS BIGINT)").alias(
                "w_micro"
            ),
        )
    )
    adj = und.select(F.col("s").alias("w"), F.col("d").alias("n"))
    wedges = (
        adj.alias("x")
        .join(adj.alias("y"), (F.col("x.w") == F.col("y.w")) & (F.col("x.n") < F.col("y.n")))
        .join(ctr, F.col("x.w") == ctr.w)
        .select(
            F.col("x.n").alias("node_a"),
            F.col("y.n").alias("node_b"),
            F.col("w_micro"),
        )
    )
    scored = wedges.groupBy("node_a", "node_b").agg(
        F.count("*").cast("long").alias("n_common"),
        F.sum("w_micro").cast("long").alias("aa_micro"),
    )
    known = und.filter(F.col("s") < F.col("d")).select(
        F.col("s").alias("node_a"), F.col("d").alias("node_b")
    )
    return (
        scored.join(known, ["node_a", "node_b"], "left_anti")
        .orderBy(F.col("aa_micro").desc(), "node_a", "node_b")
        .limit(top_k)
    )


def label_propagation(
    edges: DataFrame,
    seeds: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    node_col: str = "node",
    label_col: str = "label",
) -> DataFrame:
    """Semi-supervised label propagation (Zhu & Ghahramani 2002's hard
    variant): seed nodes carry fixed labels; each round, every still-
    unlabeled node adopts the MAJORITY label of its labeled neighbors,
    ties broken by the lexicographically smallest label — a
    deterministic integer-vote rule, so engines agree bit-for-bit. A
    node with no labeled neighbor stays unlabeled and may be reached in
    a later round. Labels never change once assigned (seeds included),
    which is what makes K rounds expressible as K unrolled SQL stages
    in the oracle.

    Scale shape per round: ONE equi-join of the current label table
    onto the symmetrized edge list + one partial-aggregated
    groupBy(node, label) vote count + one argmax-by-struct-min (no
    window: min(struct(-votes, label)) is an ordinary aggregate) + one
    anti-join to restrict to still-unlabeled nodes. Lineage is cut per
    round with localCheckpoint like pagerank_integer/
    connected_components, so plans stay flat at any round count.

    Returns (node, label, rnd) — rnd 0 for seeds, else the round that
    assigned the label. Unreached nodes are absent.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    labels = seeds.select(
        F.col(node_col).alias("node"),
        F.col(label_col).alias("label"),
        F.lit(0).cast("long").alias("rnd"),
    )
    for r in range(1, rounds + 1):
        votes = (
            und.join(labels, und.s == labels.node)
            .groupBy(F.col("d"), F.col("label"))
            .agg(F.count("*").cast("long").alias("votes"))
        )
        newly = (
            votes.groupBy("d")
            .agg(
                F.min(F.struct((-F.col("votes")).alias("nv"), "label")).alias(
                    "m"
                )
            )
            .select(
                F.col("d").alias("node"),
                F.col("m.label").alias("label"),
                F.lit(r).cast("long").alias("rnd"),
            )
            .join(labels.select("node"), "node", "left_anti")
        )
        labels = labels.unionByName(newly).localCheckpoint(eager=False)
    return labels


def bfs_hop_distances(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source breadth-first hop distances: every node's minimum
    hop count to the seed set, out to `max_hops` sweeps — the
    reachability/radius primitive under the PageRank and
    label-propagation loops (hop counts ARE the unweighted
    single-source shortest paths). Fixed sweep count keeps the oracle
    expressible as K unrolled SQL stages, same contract as
    pagerank_integer's fixed iterations.

    Per sweep: ONE equi-join of the frontier onto the symmetrized edge
    list + a groupBy-min merge with the settled set — both partial-
    aggregated and keyed by node id; lineage cut per sweep with
    localCheckpoint, so plans stay flat at any hop count. Settled
    nodes re-derived through a neighbor can only produce a LARGER
    candidate distance, so min() keeps BFS's invariant without a
    visited-set anti-join.

    Returns (node, dist) for every node within max_hops of a seed
    (seeds at dist 0); unreachable nodes are absent.
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    for _ in range(max_hops):
        reach = (
            und.join(dist, und.s == dist.node)
            .select(F.col("d").alias("node"), (F.col("dist") + 1).alias("dist"))
        )
        dist = (
            dist.unionByName(reach)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def clustering_coefficients(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_degree: int = 256,
    top_k: int = 20,
) -> DataFrame:
    """Local clustering coefficient per node (Watts & Strogatz 1998):
    cc(v) = triangles_through(v) / (deg(v)·(deg(v)−1)/2) — how close a
    node's neighborhood is to a clique, the community-density metric
    next to the triangle counts. Integer-exact:
    cc_ppm = 2·T·1e6 div (deg·(deg−1)).

    Triangles through v are CLOSED WEDGES CENTERED at v: enumerate the
    wedge (a < b through center w) with the same adjacency self-join as
    `adamic_adar` (same Σ deg² cost, same `max_degree` hub control),
    then keep wedges whose endpoints are themselves an edge — one
    equi-join against the canonical edge list, no cartesian. One
    groupBy(center) count + the degree join finishes it.

    Returns top_k (node, degree, n_triangles, cc_ppm) by cc desc among
    nodes with deg ≥ 2 (deg-1 nodes have no defined coefficient).
    """
    und = _undirected(edges, src, dst).localCheckpoint(eager=False)
    deg = (
        und.groupBy(F.col("s").alias("node"))
        .agg(F.count("*").cast("long").alias("degree"))
        .filter((F.col("degree") >= 2) & (F.col("degree") <= max_degree))
    )
    adj = und.select(F.col("s").alias("w"), F.col("d").alias("n"))
    wedges = (
        adj.alias("x")
        .join(
            adj.alias("y"),
            (F.col("x.w") == F.col("y.w")) & (F.col("x.n") < F.col("y.n")),
        )
        .join(deg, F.col("x.w") == deg.node)
        .select(
            F.col("x.w").alias("w"),
            F.col("x.n").alias("a"),
            F.col("y.n").alias("b"),
        )
    )
    canon = und.filter(F.col("s") < F.col("d")).select(
        F.col("s").alias("a"), F.col("d").alias("b")
    )
    tri = (
        wedges.join(canon, ["a", "b"], "left_semi")
        .groupBy("w")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )
    return (
        deg.join(tri, deg.node == tri.w, "left")
        .select(
            "node",
            "degree",
            F.coalesce(F.col("n_triangles"), F.lit(0))
            .cast("long")
            .alias("n_triangles"),
        )
        .withColumn(
            "cc_ppm",
            F.expr(
                "2 * n_triangles * 1000000 DIV (degree * (degree - 1))"
            ).cast("long"),
        )
        .orderBy(F.col("cc_ppm").desc(), "node")
        .limit(top_k)
    )


def degree_assortativity(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Degree assortativity (Newman 2002): the Pearson correlation of
    endpoint degrees over every DIRECTED edge of the symmetrized graph —
    positive when hubs attach to hubs (social nets), negative when hubs
    attach to leaves (dependency/infrastructure graphs). The one-number
    topology summary next to the degree histogram.

    Exactness: the correlation is emitted as the six integer sufficient
    statistics over (deg(u), deg(v)) pairs plus the signed squared
    correlation in ppm, finished in DECIMAL(38,0) — the same contract
    as stats.spearman_report (the stats compose across shards; the ppm
    finish is exact while (n·Σxy)² fits 38 digits).

    Shape: one degree aggregate, two equi-joins of the (node, degree)
    table onto the edge list (broadcastable while nodes ≪ edges), one
    1-row aggregate. Both directions of each edge are counted — the
    standard symmetrization that makes the statistic orientation-free.

    Returns one row: (n_edges_directed, sx, sy, sxy, sxx, syy,
    assortativity_sq_signed_ppm).
    """
    und = _undirected(edges, src, dst)
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count("*").cast("long").alias("deg")
    )
    both = (
        und.join(deg.select(F.col("node").alias("s"), F.col("deg").alias("dx")), "s")
        .join(deg.select(F.col("node").alias("d"), F.col("deg").alias("dy")), "d")
    )
    stats = both.agg(
        F.count("*").cast("long").alias("n_edges_directed"),
        F.sum("dx").cast("long").alias("sx"),
        F.sum("dy").cast("long").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("long").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("long").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("long").alias("syy"),
    )
    d38 = "CAST({} AS decimal(38,0))"
    num = (
        f"({d38.format('n_edges_directed')} * {d38.format('sxy')}"
        f" - {d38.format('sx')} * {d38.format('sy')})"
    )
    dxx = (
        f"({d38.format('n_edges_directed')} * {d38.format('sxx')}"
        f" - {d38.format('sx')} * {d38.format('sx')})"
    )
    dyy = (
        f"({d38.format('n_edges_directed')} * {d38.format('syy')}"
        f" - {d38.format('sy')} * {d38.format('sy')})"
    )
    return stats.select(
        "n_edges_directed",
        "sx",
        "sy",
        "sxy",
        "sxx",
        "syy",
        F.expr(
            f"CAST((CASE WHEN {num} < 0 THEN -1 ELSE 1 END"
            f" * (({num} * {num}) * 1000000)"
            f" DIV ({dxx} * {dyy})) AS BIGINT)"
        ).alias("assortativity_sq_signed_ppm"),
    )


def bellman_ford_distances(
    wedges: DataFrame,
    seeds: DataFrame,
    max_sweeps: int = 4,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Weighted multi-source shortest paths by Bellman-Ford relaxation
    sweeps — the weighted upgrade of `bfs_hop_distances` and the
    standard distributed SSSP shape (min-plus join instead of hop+1).
    Non-negative integer weights; a fixed sweep count keeps the oracle
    expressible as K unrolled SQL stages and bounds the path length
    exactly like the BFS contract (distances are exact for every node
    whose shortest path uses ≤ max_sweeps edges).

    Per sweep: ONE equi-join of the tentative-distance table onto the
    symmetrized weighted edge list + a groupBy-min merge — both
    partial-aggregated, keyed by node id, lineage cut per sweep. A
    settled node re-relaxed through a neighbor can only offer a larger
    distance, so min() preserves the invariant without a visited set.

    Returns (node, dist) for nodes within max_sweeps relaxations of a
    seed (seeds at 0); unreachable nodes are absent.
    """
    und = (
        wedges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"),
            F.col(weight).cast("long").alias("w"),
        )
        .unionByName(
            wedges.select(
                F.col(dst).alias("s"), F.col(src).alias("d"),
                F.col(weight).cast("long").alias("w"),
            )
        )
        .filter(F.col("s") != F.col("d"))
        .groupBy("s", "d")
        .agg(F.min("w").alias("w"))
        .localCheckpoint(eager=False)
    )
    dist = seeds.select(
        F.col(seeds.columns[0]).alias("node"),
        F.lit(0).cast("long").alias("dist"),
    ).distinct()
    for _ in range(max_sweeps):
        reach = und.join(dist, und.s == dist.node).select(
            F.col("d").alias("node"),
            (F.col("dist") + F.col("w")).alias("dist"),
        )
        dist = (
            dist.unionByName(reach)
            .groupBy("node")
            .agg(F.min("dist").cast("long").alias("dist"))
            .localCheckpoint(eager=False)
        )
    return dist


def hits_scores(
    edges: DataFrame,
    iters: int = 2,
    src: str = "src",
    dst: str = "dst",
    scale: int = 1000,
) -> DataFrame:
    """HITS hubs & authorities (Kleinberg 1999) on a directed bipartite
    edge list, fixed iteration count, INTEGER max-normalization: each
    half-step is one equi-join + partial-aggregated sum, then a 1-row
    max broadcast rescales scores to [0, scale] by integer DIV — the
    deterministic stand-in for the L2 normalization (same fixed-point
    direction, engine-exact arithmetic). Fixed iters keeps the oracle
    expressible as unrolled SQL stages, the pagerank_integer contract.

        a(p) = Σ_{u→p} h(u)   then rescale;   h(u) = Σ_{u→p} a(p)   rescale

    Returns (side, node, score) — side 'hub' (src nodes) / 'auth' (dst
    nodes) — after `iters` full rounds. Start state h ≡ scale.

    Scale shape: score tables are keyed by node id and only ever meet
    the edge list in equi-joins; the normalizing max is a 1-row
    broadcast. Lineage cut per round.
    """
    e = edges.select(
        F.col(src).alias("u"), F.col(dst).alias("p")
    ).distinct().localCheckpoint(eager=False)
    h = e.select("u").distinct().withColumn(
        "h", F.lit(scale).cast("long")
    )
    a = None
    for _ in range(iters):
        a_raw = (
            e.join(h, "u")
            .groupBy("p")
            .agg(F.sum("h").cast("long").alias("a"))
        )
        a_max = a_raw.agg(F.max("a").alias("mx"))
        a = (
            a_raw.join(F.broadcast(a_max))
            .select("p", F.expr(f"a * {scale} DIV mx").cast("long").alias("a"))
            .localCheckpoint(eager=False)
        )
        h_raw = (
            e.join(a, "p")
            .groupBy("u")
            .agg(F.sum("a").cast("long").alias("h"))
        )
        h_max = h_raw.agg(F.max("h").alias("mx"))
        h = (
            h_raw.join(F.broadcast(h_max))
            .select("u", F.expr(f"h * {scale} DIV mx").cast("long").alias("h"))
            .localCheckpoint(eager=False)
        )
    hubs = h.select(
        F.lit("hub").alias("side"), F.col("u").alias("node"),
        F.col("h").alias("score"),
    )
    auths = a.select(
        F.lit("auth").alias("side"), F.col("p").alias("node"),
        F.col("a").alias("score"),
    )
    return hubs.unionByName(auths)


def md5_random_walks(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    walk_len: int = 3,
    n_walks: int = 2,
    seed: str = "walk-v1",
) -> DataFrame:
    """DeepWalk-style trajectory sampling (Perozzi et al. 2014) with
    DETERMINISTIC pseudo-randomness: `n_walks` walks of `walk_len`
    steps start from EVERY node; the step from node u at (walk w,
    step t) goes to the neighbor v minimizing md5(seed:w:t:u:v) —
    hash-ranking stands in for the uniform draw, so the corpus is a
    pure function of the graph (append-stable, rerun-identical, and
    exactly mirrorable in oracle SQL — the same no-RNG rule every
    sampling operator in this repo follows). The transition depends
    only on (u, w, t): walks that meet move together afterwards, the
    standard coupling artifact of common-random-number sampling,
    acceptable for corpus generation and documented here.

    Returns the visit relation (walk, step, seed_node, node) — step 0
    is the seed — which downstream embedding pipelines window into
    skip-gram pairs exactly like a text corpus.

    Scale shape: the symmetrized edge list localCheckpoints once; each
    of the `walk_len` rounds is ONE equi-join of the frontier (n_nodes
    × n_walks rows) onto the edges plus one min-hash aggregate and a
    self-join on the min — the BSP shape shared with pagerank/BFS, no
    per-row Python anywhere. Walk count and length are literals, so
    the oracle unrolls them as CTEs."""
    und = _undirected(edges, src, dst).localCheckpoint()
    nodes = und.select(F.col("s").alias("node")).distinct()
    frontier = nodes.crossJoin(
        und.sparkSession.range(n_walks).select(F.col("id").alias("walk"))
    ).select(
        "walk",
        F.lit(0).cast("int").alias("step"),
        F.col("node").alias("seed_node"),
        "node",
    )
    out = frontier
    for t in range(1, walk_len + 1):
        cand = frontier.join(und, frontier.node == und.s).select(
            "walk",
            "seed_node",
            F.col("d").alias("cand"),
            F.md5(
                F.concat_ws(
                    ":",
                    F.lit(seed),
                    F.col("walk").cast("string"),
                    F.lit(str(t)),
                    F.col("node").cast("string"),
                    F.col("d").cast("string"),
                )
            ).alias("h"),
        )
        best = cand.groupBy("walk", "seed_node").agg(F.min("h").alias("mh"))
        frontier = (
            cand.join(best, ["walk", "seed_node"])
            .filter(F.col("h") == F.col("mh"))
            .select(
                "walk",
                F.lit(t).cast("int").alias("step"),
                "seed_node",
                F.col("cand").alias("node"),
            )
        ).localCheckpoint()
        out = out.unionByName(frontier)
    return out
