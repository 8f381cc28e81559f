"""Connected components (operators/graph) — min-label propagation vs a
naive union-find reference (oracle twin: `dedup_components`) — and
PageRank vs a single-machine power-iteration reference (oracle twin:
`pagerank_scores`).
"""

import random
from collections import defaultdict

import pytest

from felixzh_flink_spark.operators.graph import (
    component_sizes,
    connected_components,
    connected_components_star,
    keep_min_per_component,
    pagerank,
)


def _uf_reference(edges):
    parent = {}

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


def _run(spark, edges, **kw):
    df = spark.createDataFrame(edges, "src long, dst long")
    return {r.node: r.component
            for r in connected_components(df, **kw).collect()}


def test_two_components_and_chain(spark):
    edges = [(1, 2), (2, 3), (3, 4), (10, 11), (12, 11)]
    got = _run(spark, edges)
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 12: 10}


def test_self_loops_and_duplicate_edges_are_harmless(spark):
    edges = [(5, 5), (5, 6), (6, 5), (5, 6), (7, 7)]
    got = _run(spark, edges)
    assert got == {5: 5, 6: 5, 7: 7}


def test_random_graphs_match_union_find(spark):
    rnd = random.Random(11)
    nodes = list(range(40))
    edges = [(rnd.choice(nodes), rnd.choice(nodes)) for _ in range(45)]
    got = _run(spark, edges)
    assert got == _uf_reference(edges)


def test_min_label_is_the_component_min(spark):
    edges = [(9, 3), (3, 7), (100, 42)]
    got = _run(spark, edges)
    assert got[9] == got[3] == got[7] == 3
    assert got[100] == got[42] == 42


def test_default_falls_back_to_star_on_long_chain(spark):
    # diameter 12 ≫ max_iter=2: hash-min cannot converge; the default
    # policy must hand off to star contraction and still return the
    # exact min-labeling.
    chain = [(i, i + 1) for i in range(12)]
    got = _run(spark, chain, max_iter=2)
    assert got == {i: 0 for i in range(13)}


def test_star_adversarial_chain_diameter_300(spark):
    # the adversarial case hash-min cannot touch (300 rounds needed);
    # star contraction must converge in O(log n) — well under its
    # 64-round bound — and label every node with the chain head.
    chain = [(i, i + 1) for i in range(300)]
    df = spark.createDataFrame(chain, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components_star(df).collect()}
    assert got == {i: 0 for i in range(301)}


def test_star_matches_union_find_on_random_graphs(spark):
    rnd = random.Random(23)
    for seed_round in range(3):
        nodes = list(range(60))
        edges = [(rnd.choice(nodes), rnd.choice(nodes))
                 for _ in range(40 + 10 * seed_round)]
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r.node: r.component
               for r in connected_components_star(df).collect()}
        assert got == _uf_reference(edges), f"round {seed_round}"


def test_star_self_loops_and_two_components(spark):
    edges = [(5, 5), (5, 6), (1, 2), (2, 3), (3, 1), (9, 9)]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.component
           for r in connected_components_star(df).collect()}
    assert got == {5: 5, 6: 5, 1: 1, 2: 1, 3: 1, 9: 9}


# ----------------------------------------------------------- pagerank

def _pr_reference(nodes, edges, iterations=8, damping=0.85):
    """Single-machine power iteration with the same semantics: even
    split across out-edges (parallel edges = double votes, self-loops
    honored), dangling mass redistributed uniformly, contributions to
    ids outside `nodes` dropped. Plain float sums — the engine's
    decimal-exact sums and 1e-12 quantization stay within ~1e-10."""
    out = defaultdict(list)
    for s, d in edges:
        out[s].append(d)
    n = len(nodes)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(iterations):
        contrib = defaultdict(float)
        mass = 0.0
        for v in nodes:
            if out[v]:
                share = r[v] / len(out[v])
                for d in out[v]:
                    contrib[d] += share
            else:
                mass += r[v]
        r = {v: (1 - damping) / n + damping * (contrib[v] + mass / n)
             for v in nodes}
    return r


def _run_pr(spark, nodes, edges, **kw):
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    edf = spark.createDataFrame(edges, "src long, dst long")
    got = pagerank(ndf, edf, n_nodes=len(nodes), **kw)
    return {r.node: r.rank for r in got.collect()}


def test_pagerank_ring_is_uniform(spark):
    # symmetric graph: stationary distribution is exactly uniform
    nodes = list(range(12))
    edges = [(i, (i + 1) % 12) for i in nodes]
    got = _run_pr(spark, nodes, edges)
    for v in nodes:
        assert got[v] == pytest.approx(1.0 / 12, abs=1e-10)


def test_pagerank_dangling_mass_is_conserved(spark):
    # node 3 has no out-edges: without redistribution ranks leak and
    # the total drops below 1 round over round
    nodes = [0, 1, 2, 3]
    edges = [(0, 1), (1, 2), (2, 3), (0, 3)]
    got = _run_pr(spark, nodes, edges)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-9)
    ref = _pr_reference(nodes, edges)
    for v in nodes:
        assert got[v] == pytest.approx(ref[v], abs=1e-10)


def test_pagerank_matches_reference_on_random_graph(spark):
    rnd = random.Random(7)
    nodes = list(range(30))
    # parallel edges, self-loops, several dangling nodes, and edges to
    # ids OUTSIDE the node set (dropped by both implementations)
    edges = [(rnd.choice(nodes), rnd.choice(nodes + [99, 100]))
             for _ in range(70)]
    dangling = {25, 26, 27}
    edges = [e for e in edges if e[0] not in dangling]
    got = _run_pr(spark, nodes, edges)
    ref = _pr_reference(nodes, edges)
    # NOTE: no sum≈1 here — shares sent to out-of-set targets leak by
    # design (both engines drop them identically); only CLOSED graphs
    # conserve mass (test_pagerank_dangling_mass_is_conserved)
    for v in nodes:
        assert got[v] == pytest.approx(ref[v], abs=1e-9), v


def test_pagerank_hub_outranks_leaves_and_is_deterministic(spark):
    nodes = list(range(9))
    edges = [(i, 0) for i in range(1, 9)] + [(0, 1)]
    a = _run_pr(spark, nodes, edges)
    b = _run_pr(spark, nodes, edges)
    assert a == b  # exact: quantized decimal pipeline, no run noise
    assert a[0] > max(a[v] for v in range(2, 9)) * 3


def test_sizes_and_keep_min(spark):
    edges = [(1, 2), (2, 3), (10, 11)]
    comp = connected_components(
        spark.createDataFrame(edges, "src long, dst long"))
    sizes = {r.component: r.n_members
             for r in component_sizes(comp).collect()}
    assert sizes == {1: 3, 10: 2}
    kept = sorted(r.node for r in keep_min_per_component(comp).collect())
    assert kept == [1, 10]


def test_weighted_pagerank_matches_multigraph(spark):
    """The pre-aggregated weighted form must track the parallel-edge
    multigraph to quantization precision (the weighted addend rounds
    (r/outdeg)*w once where the multigraph decimal-sums w identical
    addends — see the pagerank docstring): same ranks to 1e-9 on a
    graph with heavy parallel edges, dangling nodes, and self-loops."""
    rnd = random.Random(11)
    nodes = list(range(12))
    multi = []
    for _ in range(25):
        s, d = rnd.choice(nodes[:9]), rnd.choice(nodes)
        multi.extend([(s, d)] * rnd.randint(1, 6))
    a = _run_pr(spark, nodes, multi)
    agg = {}
    for s, d in multi:
        agg[(s, d)] = agg.get((s, d), 0) + 1
    wdf = spark.createDataFrame(
        [(s, d, w) for (s, d), w in agg.items()],
        "src long, dst long, w long")
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    got = pagerank(ndf, wdf, n_nodes=len(nodes), weight="w")
    b = {r.node: r.rank for r in got.collect()}
    assert set(a) == set(b)
    for v in nodes:
        assert abs(a[v] - b[v]) < 1e-9, (v, a[v], b[v])
    # determinism of the weighted path itself
    again = {r.node: r.rank
             for r in pagerank(ndf, wdf, n_nodes=len(nodes),
                               weight="w").collect()}
    assert again == b


def test_weighted_pagerank_zero_weight_source_is_dangling(spark):
    """A source whose edge weights sum to 0 carries no real edges and
    must be classified DANGLING — before the ADVICE-r9 fix it sat in
    the degree table with outdeg=0, divided to NULL, and its mass
    silently vanished (conservation break). Weight-0 rows are
    non-edges: the graph must rank identically to the same graph with
    those rows absent, and total mass must stay 1."""
    nodes = list(range(6))
    ndf = spark.createDataFrame([(v,) for v in nodes], "node long")
    real = [(0, 1, 2), (1, 2, 1), (2, 0, 3)]          # nodes 3-5 dangling
    with_zeros = real + [(3, 4, 0), (5, 1, 0)]        # zero-weight non-edges
    a = {r.node: r.rank for r in pagerank(
        ndf, spark.createDataFrame(real, "src long, dst long, w long"),
        n_nodes=6, weight="w").collect()}
    b = {r.node: r.rank for r in pagerank(
        ndf, spark.createDataFrame(with_zeros,
                                   "src long, dst long, w long"),
        n_nodes=6, weight="w").collect()}
    assert a == b
    assert sum(b.values()) == pytest.approx(1.0, abs=1e-9)
    assert all(v is not None for v in b.values())
