"""graph.connected_components (large-star/small-star): correctness
against brute-force components, agreement with the label-propagation
operator, and the O(log n) property on a long chain where per-hop
propagation's round budget is hopeless."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from politicamente_etl_spark.operators import dedup, graph


def _brute_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in parent}


def test_components_match_brute_force_random(spark):
    import random

    rng = random.Random(7)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    edges = [(a, b) for a, b in edges if a != b]
    e = spark.createDataFrame(edges, "src long, dst long")
    got = {
        r.node: r.component
        for r in graph.connected_components(e).collect()
    }
    want = _brute_components(edges)
    assert got == want


def test_components_long_chain_converges_logarithmically(spark):
    """A 500-node path graph (diameter 499): star convergence must land
    within the default 25-round budget — the case per-hop label
    propagation cannot touch (it would need 499 rounds)."""
    edges = [(i, i + 1) for i in range(500)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = graph.connected_components(e).collect()
    assert len(out) == 501
    assert {r.component for r in out} == {0}

    # the propagation operator with a chain-sized budget agrees
    nodes = spark.range(501).select(F.col("id").alias("doc_id"))
    pairs = e.select(
        F.col("src").alias("doc_a"), F.col("dst").alias("doc_b")
    )
    with pytest.raises(RuntimeError, match="not converged"):
        dedup.near_dup_clusters(nodes, pairs, max_iter=5)


def test_components_agree_with_label_propagation(spark):
    """On a small-diameter graph both algorithms must produce identical
    labelings (propagation is the established, driver-verified operator)."""
    edges = [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)]
    e = spark.createDataFrame(edges, "src long, dst long")
    star = {
        r.node: r.component for r in graph.connected_components(e).collect()
    }
    nodes = (
        e.select(F.col("src").alias("doc_id"))
        .unionByName(e.select(F.col("dst").alias("doc_id")))
        .distinct()
    )
    pairs = e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    prop = {
        r.doc_id: r.cluster_id
        for r in dedup.near_dup_clusters(nodes, pairs).collect()
    }
    assert star == prop


def test_components_handles_self_loops_and_dups(spark):
    e = spark.createDataFrame(
        [(5, 5), (1, 2), (2, 1), (1, 2)], "src long, dst long"
    )
    out = {r.node: r.component for r in graph.connected_components(e).collect()}
    # the self-loop node never appears (no real edge); the dup pair is one
    assert out == {1: 1, 2: 1}


def test_near_dup_clusters_matches_star_components(spark):
    """near_dup_clusters' labeling equals graph.connected_components on
    the same pairs plus the singleton rule (a doc with no pair is its own
    cluster) and the canonical rule (keep the doc whose id is its
    cluster id) — the equivalence that lets long-chain graphs go through
    the star operator instead."""
    nodes = spark.range(30).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (25, 9)], "doc_a long, doc_b long"
    )
    star = {
        r.node: r.component
        for r in graph.connected_components(pairs, "doc_a", "doc_b").collect()
    }
    want = {(n, star.get(n, n), int(star.get(n, n) == n)) for n in range(30)}
    prop = {
        (r.doc_id, r.cluster_id, r.is_canonical)
        for r in dedup.near_dup_clusters(nodes, pairs).collect()
    }
    assert prop == want
    assert len(prop) == 30  # every node labeled, singletons included


def test_near_dup_clusters_ignores_ghost_bridge_nodes(spark):
    """Pairs may reference nodes that df filtered out (e.g. quality-cut
    docs whose candidate pairs were generated earlier). The operator must
    label ONLY df nodes and must not let a ghost node bridge two
    components (code-review regression, round 4)."""
    nodes = spark.createDataFrame([(5,), (6,)], "doc_id long")
    pairs = spark.createDataFrame(
        [(0, 5), (0, 6)], "doc_a long, doc_b long"
    )  # node 0 is NOT in df — it must neither appear nor bridge 5 and 6
    out = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.near_dup_clusters(nodes, pairs).collect()
    }
    assert out == {5: (5, 1), 6: (6, 1)}


def test_components_raise_when_not_converged(spark):
    """One star round cannot flatten a 500-node chain: the operator must
    raise rather than return a split labeling."""
    e = spark.createDataFrame(
        [(i, i + 1) for i in range(500)], "src long, dst long"
    )
    with pytest.raises(RuntimeError, match="not converged after 1 rounds"):
        graph.connected_components(e, max_iter=1)


def test_empty_input_gives_no_rows(spark):
    """An empty input converges at once: the signature observed on an
    empty checkpoint must arrive (not block) and no row is returned."""
    e = spark.createDataFrame([], "src long, dst long")
    assert graph.connected_components(e).collect() == []
    docs = spark.createDataFrame([], "doc_id long")
    pairs = spark.createDataFrame([], "doc_a long, doc_b long")
    assert dedup.near_dup_clusters(docs, pairs).collect() == []


@pytest.mark.parametrize("base", [4 * 10**18, -4 * 10**18])
def test_hash_sized_and_negative_ids(spark, base):
    """Hash-derived ids (xxhash64 doc ids) span the whole BIGINT range: a
    BIGINT sum of a few of them overflows under ANSI, so the convergence
    signature must not. Both operators label a chain plus a pair."""
    chain = [(base + i, base + i + 1) for i in range(6)]
    edges = chain + [(base + 20, base + 21)]
    want = {n: base for a, b in chain for n in (a, b)}
    want.update({base + 20: base + 20, base + 21: base + 20})
    e = spark.createDataFrame(edges, "src long, dst long")
    star = {r.node: r.component for r in graph.connected_components(e).collect()}
    assert star == want
    docs = spark.createDataFrame([(n,) for n in want], "doc_id long")
    pairs = e.select(F.col("src").alias("doc_a"), F.col("dst").alias("doc_b"))
    prop = {
        r.doc_id: (r.cluster_id, r.is_canonical)
        for r in dedup.near_dup_clusters(docs, pairs).collect()
    }
    assert prop == {n: (c, int(n == c)) for n, c in want.items()}


def test_convergence_rides_the_checkpoint_jobs(spark):
    """Warm job counts on fixed small graphs: the convergence signature is
    observed on each round's checkpoint, not collected by a job of its
    own. Measured 19 and 31 on a 4-core box; with a separate count or
    collect job per round the same calls ran 33 and 41."""
    from politicamente_etl_spark.testing import spark_jobs

    docs = spark.range(30).select(F.col("id").alias("doc_id"))
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8), (25, 9)], "doc_a long, doc_b long"
    )
    e = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        "src long, dst long",
    )

    def near_dup():
        return dedup.near_dup_clusters(docs, pairs).collect()

    def star():
        return graph.connected_components(e).collect()

    near_dup(), star()  # warm: parsing and codegen caches
    _, nd_jobs = spark_jobs(spark, "probe:graph:near_dup_clusters", near_dup)
    _, cc_jobs = spark_jobs(spark, "probe:graph:connected_components", star)
    assert nd_jobs <= 19
    assert cc_jobs <= 31


def test_md5_random_walks_match_python_model(spark):
    """The hash-ranked walk equals a hashlib reimplementation step for
    step on a small random-ish graph — the no-RNG determinism contract."""
    import hashlib

    from politicamente_etl_spark.operators.graph import md5_random_walks

    edges = [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3), (2, 5)]
    e = spark.createDataFrame(edges, "src long, dst long")
    out = md5_random_walks(e, walk_len=3, n_walks=2)
    got = {
        (r.walk, r.step, r.seed_node): r.node for r in out.collect()
    }
    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)

    def h(w, t, u, v):
        return hashlib.md5(f"walk-v1:{w}:{t}:{u}:{v}".encode()).hexdigest()

    for w in (0, 1):
        for s in adj:
            cur = s
            assert got[(w, 0, s)] == s
            for t in (1, 2, 3):
                cur = min(adj[cur], key=lambda v: h(w, t, cur, v))
                assert got[(w, t, s)] == cur, (w, t, s)
    # corpus size: (walk_len + 1) rows per (walk, seed)
    assert len(got) == 2 * len(adj) * 4
