"""connected_components: known component structures, convergence
guard, and agreement with a brute-force union-find."""

from __future__ import annotations

import pytest

from mapreducego_spark.operators.graph import connected_components


def _cc(spark, edges, **kw):
    df = spark.createDataFrame(edges, "doc_a long, doc_b long")
    return {
        (r.doc_id, r.cluster_rep)
        for r in connected_components(df, **kw).collect()
    }


def test_chain_clique_and_pair(spark):
    """A 4-chain, a triangle, and an isolated pair — every node must
    carry its component's min id."""
    edges = [
        (1, 2), (2, 3), (3, 4),          # chain
        (10, 11), (11, 12), (10, 12),    # triangle
        (21, 20),                        # pair (reversed order)
    ]
    got = _cc(spark, edges)
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }


def test_matches_union_find(spark):
    """Pseudo-random graph vs a driver-side union-find."""
    import hashlib

    edges = []
    for i in range(200):
        h = int(hashlib.md5(f"e{i}".encode()).hexdigest()[:8], 16)
        edges.append((h % 50, (h // 50) % 50))
    edges = [(a, b) for a, b in edges if a != b]

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
    want = {(n, find(n)) for n in parent}
    assert _cc(spark, edges) == want


def test_diameter_guard_fails_loudly(spark):
    """A long chain cannot converge in 1 iteration — the guard must
    raise, not return a wrong labeling."""
    chain = [(i, i + 1) for i in range(10)]
    with pytest.raises(RuntimeError, match="fixpoint"):
        _cc(spark, chain, max_iter=1)


def test_empty_pair_set_has_no_components(spark):
    """No edges: the observed label sums are both null, which counts as
    converged, and no row comes back."""
    assert _cc(spark, []) == set()


def _serial_pagerank(edges, n_iter=5, damping=0.85):
    """A serial dict implementation of the fixed-iteration float
    recurrence: rank = (1-d)/N + d * (inflow + dangling_mass/N)."""
    nodes = sorted({n for e in edges for n in e})
    n = len(nodes)
    out = {}
    for s, d in set(edges):
        out.setdefault(s, []).append(d)
    ranks = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dangling = sum(r for v, r in ranks.items() if v not in out)
        inflow = {v: 0.0 for v in nodes}
        for s, ds in out.items():
            for d in ds:
                inflow[d] += ranks[s] / len(ds)
        ranks = {
            v: (1 - damping) / n + damping * (inflow[v] + dangling / n)
            for v in nodes
        }
    return ranks


def _pagerank_floats(df):
    from mapreducego_spark.operators.graph import pagerank_exact

    return {r.id: r.rank_pico / 1e12 for r in pagerank_exact(df, n_iter=5).collect()}


def test_pagerank_matches_serial_reference(spark):
    """The fixed-point PageRank, scaled back to floats, equals a
    serial float implementation of the same recurrence within 1e-9;
    rank mass sums to 1."""
    edges = [(1, 2), (2, 1), (2, 3), (3, 1), (4, 3), (5, 4), (6, 1)]
    # node 7 is dangling-only reachable: add 1->7 (7 has no out-edges)
    edges.append((1, 7))
    got = _pagerank_floats(spark.createDataFrame(edges, ["src", "dst"]))
    want = _serial_pagerank(edges)

    assert set(got) == set(want)
    assert max(abs(got[v] - want[v]) for v in want) < 1e-9
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_exact_matches_float_variant(spark):
    """On the sf0.001 part<->supplier graph the fixed-point PageRank
    must agree with the float recurrence to within fixed-point
    truncation error: each iteration drops <1 unit (1e-12) per
    integer division, so after 5 rounds the two differ by well under
    1e-9 per node."""
    from pyspark.sql import functions as F

    from mapreducego_spark.sources.catalog import load_table

    li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
    fwd = li.select(
        (F.col("l_partkey") * 2).cast("long").alias("src"),
        (F.col("l_suppkey") * 2 + 1).cast("long").alias("dst"),
    )
    und = fwd.union(
        fwd.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    got = _pagerank_floats(und)
    want = _serial_pagerank([(r.src, r.dst) for r in und.collect()])
    assert set(got) == set(want)
    assert max(abs(got[i] - want[i]) for i in want) < 1e-9
    # rank mass is conserved up to truncation: each round loses up to
    # ~1 unit per node (the div-100s) plus the per-edge share
    # remainders, so budget ~10 units/node/round at 1e-12 each
    assert abs(sum(got.values()) - 1.0) < len(got) * 5 * 1e-11


def test_triangle_count_known_graph(spark):
    """K4 has 4 triangles (each node in 3); a pendant path adds none;
    duplicate and reversed input edges must not change counts."""
    from mapreducego_spark.operators.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    noisy = k4 + [(b, a) for a, b in k4] + k4  # reversed + duplicated
    noisy += [(3, 10), (10, 11)]  # pendant path, no new triangle
    noisy += [(5, 5)]  # self-loop ignored
    edges = spark.createDataFrame(noisy, ["src", "dst"])
    got = {r.node: r.n_triangles for r in triangle_count(edges).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 3}

    # a star (hub with leaves, no closing edges) has no triangles at
    # all — the degree-ordered orientation must not invent wedge
    # closures
    star = spark.createDataFrame(
        [(0, i) for i in range(1, 20)], ["src", "dst"]
    )
    assert triangle_count(star).count() == 0


def test_shortest_paths_known_graph(spark):
    """Hop distances on a crafted graph: path 0-1-2-3 plus shortcut
    0-3 gives dist(3)=1, dist(2)=2 via 3; disconnected node absent;
    reversed/duplicate edges harmless."""
    from mapreducego_spark.operators.graph import shortest_paths

    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (0, 3), (3, 0), (0, 1), (7, 8)],
        ["src", "dst"],
    )
    got = {r.id: r.dist for r in shortest_paths(edges, 0).collect()}
    assert got == {0: 0, 1: 1, 3: 1, 2: 2}

    # eccentricity guard fails loudly on a chain longer than max_iter
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], ["src", "dst"]
    )
    import pytest as _pytest

    with _pytest.raises(RuntimeError, match="eccentricity"):
        shortest_paths(chain, 0, max_iter=3)
