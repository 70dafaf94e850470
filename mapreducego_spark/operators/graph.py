"""Connected components over a pair/edge DataFrame — the cluster
step of a dedup pipeline.

Near-dup detection (MinHash, SimHash, embedding-LSH) emits PAIRS;
an actual 100 TB dedup run must then collapse pairs into CLUSTERS
and keep one representative per cluster. That collapse is connected
components: docs are nodes, verified near-dup pairs are edges, a
cluster is a component, the representative is its minimum doc id.

Algorithm: iterative min-label propagation — every node repeatedly
adopts the smallest label among itself and its neighbors until a
fixpoint. Each iteration is ONE shuffle (an equi-join edges->labels
plus a groupBy-min), and the iteration count is the graph diameter.
Near-dup graphs are unions of small dense cliques (diameter is
small, typically <= 3-4), so this runs in a handful of rounds; for
adversarial long-chain graphs the alternating large-star/small-star
variant (Kiveris et al., "Connected Components in MapReduce and
Beyond", SoCC 2014) bounds rounds at O(log^2 n) — the max_iter
guard below fails loudly rather than silently emitting a
non-fixpoint labeling.

Lineage hygiene: each iteration's labels are eagerly
localCheckpoint-ed — without it the plan doubles per round and the
driver spends more time analyzing than the cluster spends shuffling
(the standard iterative-DataFrame pitfall).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def checkpoint_observed(df: DataFrame, metric: Column) -> tuple[DataFrame, object]:
    """Eagerly localCheckpoint ``df`` and return it with the value of
    the aggregate ``metric`` over its rows. The metric is an
    Observation on the checkpointing job itself, so reading it costs
    no second job over the checkpoint."""
    obs = Observation()
    cp = df.observe(obs, metric.alias("v")).localCheckpoint(eager=True)
    return cp, obs.get["v"]


def connected_components(
    pairs: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """(id, cluster_rep) for every node appearing in ``pairs``, where
    cluster_rep is the minimum node id of the component.

    ``pairs`` must be numeric node ids. Undirected: each input row
    (a, b) is treated as both a->b and b->a.
    """
    edges = (
        pairs.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(pairs.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # Convergence detector: labels only ever DECREASE, so the label
    # sum is strictly monotone until the fixpoint — comparing two
    # scalar sums replaces a per-iteration join+count. Each sum is
    # observed on the job that checkpoints the labels, so the test
    # costs no job of its own.
    labels, prev_sum = checkpoint_observed(
        edges.groupBy(F.col("s").alias("id"))
        .agg(F.min("d").alias("lab"))
        .withColumn("lab", F.least("id", "lab")),
        F.sum("lab"),
    )
    for _ in range(max_iter):
        # smallest label visible through one hop (F.least skips nulls,
        # so isolated-this-round nodes keep their current label)
        nbr = (
            edges.join(labels, edges.s == labels.id)
            .groupBy(F.col("d").alias("id"))
            .agg(F.min("lab").alias("nbr_lab"))
        )
        hopped = labels.join(nbr, "id", "left").select(
            "id", F.least("lab", "nbr_lab").alias("lab")
        )
        # pointer jump: additionally adopt the label OF your label
        # (lab <- labels[lab]) — halves the remaining distance to the
        # component min each round, so rounds ~ log2(diameter) rather
        # than diameter (pointer doubling, as in PRAM list ranking /
        # the Kiveris et al. star operations). One extra equi-join of
        # the label table with itself per round.
        jump = hopped.select(
            F.col("id").alias("lab"), F.col("lab").alias("jlab")
        )
        labels, cur_sum = checkpoint_observed(
            hopped.join(jump, "lab", "left").select(
                "id", F.least("lab", "jlab").alias("lab")
            ),
            F.sum("lab"),
        )
        if cur_sum == prev_sum:
            return labels.select(
                F.col("id").cast("long").alias("doc_id"),
                F.col("lab").cast("long").alias("cluster_rep"),
            )
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components: no fixpoint within {max_iter} iterations "
        "(graph diameter exceeds the guard) — raise max_iter or switch "
        "to the large-star/small-star variant for long-chain graphs"
    )


def pagerank_exact(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    scale: int = 10**12,
) -> DataFrame:
    """Fixed-iteration PageRank over a directed edge list, in
    fixed-point integer arithmetic (ranks in units of 1/``scale``,
    "picoranks" at the default).

    Per iteration: ONE shuffle — out-degree-normalized contributions
    flow along edges (equi-join ranks->edges, groupBy dst, sum), and
    dangling nodes (no out-edges) redistribute their rank uniformly
    via a scalar aggregate, not a join. Each round's ranks are
    eagerly localCheckpoint-ed so the plan does not double per round
    (the lineage hygiene of connected_components above). Every
    quantity is a long and every division is integer division, so
    the result after a fixed round count is EXACTLY reproducible by
    any engine (no float summation-order ambiguity). This is what
    lets an iterative algorithm carry a DuckDB oracle instead of a
    tolerance pytest; ``rank_pico / scale`` matches a float serial
    reference to ~1e-10 (tests/test_graph.py).

    Arithmetic contract (mirrored verbatim in the SQL oracle):
      init       = scale div N
      share(u,v) = rank_u div deg_u              per out-edge
      dang_each  = (sum of dangling ranks) div N
      rank'      = (15*init) div 100 + (85*(inflow + dang_each)) div 100

    The div-truncation loses < 1 unit per term — at scale=1e12 the
    total mass drift is < N*2e-12 per round, far below any ranking-
    relevant difference, and identically computed everywhere."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes, n_nodes = checkpoint_observed(
        e.select(F.col("s").alias("id"))
        .union(e.select(F.col("d").alias("id")))
        .distinct(),
        F.count(F.lit(1)),
    )
    init = scale // n_nodes
    base = (15 * init) // 100
    out_deg = e.groupBy(F.col("s").alias("id")).agg(
        F.count(F.lit(1)).alias("deg")
    )
    # The dangling mass of each round's ranks is observed on the job
    # that checkpoints them: an exact long sum, so its order of
    # summation cannot change it.
    dangling_mass = F.coalesce(
        F.sum(F.when(F.col("deg").isNull(), F.col("rank"))), F.lit(0)
    ).cast("long")
    ranks, dangling = checkpoint_observed(
        nodes.join(out_deg, "id", "left").select(
            "id", "deg", F.lit(init).cast("long").alias("rank")
        ),
        dangling_mass,
    )
    for _ in range(n_iter):
        dang_each = int(dangling) // n_nodes
        inflow = (
            e.join(ranks, e.s == ranks.id)
            .groupBy(F.col("d").alias("id"))
            .agg(F.sum(F.expr("rank div deg")).alias("inflow"))
        )
        ranks, dangling = checkpoint_observed(
            ranks.drop("rank")
            .join(inflow, "id", "left")
            .select(
                "id",
                "deg",
                F.expr(
                    f"{base}L + (85 * (coalesce(inflow, 0L) + {dang_each}L))"
                    " div 100"
                ).alias("rank"),
            ),
            dangling_mass,
        )
    return ranks.select(
        F.col("id").cast("long").alias("id"),
        F.col("rank").cast("long").alias("rank_pico"),
    )


def triangle_count(edges: DataFrame, src: str = "src", dst: str = "dst") -> DataFrame:
    """Exact per-node triangle counts — the third classic distributed
    graph kernel here (after connected components and PageRank), and
    the canonical MapReduce graph-join benchmark.

    Input is an undirected edge list (either or both directions,
    self-loops ignored). The plan is the degree-ordered orientation
    (Suri & Vassilvitskii 2011 / Cohen 2009): canonicalize each edge
    to point from the (degree, id)-SMALLER endpoint to the larger,
    then wedges form only at each edge's lower-ranked endpoint. Every
    node generates C(out_deg, 2) wedges and oriented out-degrees are
    bounded by sqrt(2|E|) regardless of raw skew — a celebrity node
    with 10^7 neighbors produces 10^14 wedges under naive
    lowest-id orientation but only O(|E|) under degree ordering.
    Each triangle is emitted exactly once (its nodes appear in rank
    order), then exploded to per-node counts.

    Shuffles: one distinct for canonicalization, one degree groupBy,
    the wedge self-join on the pivot node, and the closing edge join
    — all equi-joins Catalyst handles with plain hash exchanges."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("id"))
        .unionAll(e.select(F.col("v").alias("id")))
        .groupBy("id")
        .agg(F.count(F.lit(1)).alias("deg"))
    )
    # rank = (deg, id) packed into one orderable long-pair struct
    ranked = e.join(
        deg.select(F.col("id").alias("u"), F.col("deg").alias("du")), "u"
    ).join(deg.select(F.col("id").alias("v"), F.col("deg").alias("dv")), "v")
    lo_first = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    # The oriented edge list feeds three plan branches (both wedge
    # sides + the closing join); checkpoint it eagerly so the
    # canonicalize/degree subtree runs once, not three times — the
    # same lineage hygiene as connected_components/pagerank_exact. Size is
    # |E| rows of 4 longs, safely materializable.
    oriented = ranked.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("a"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("b"),
        F.when(lo_first, F.col("du")).otherwise(F.col("dv")).alias("ra_deg"),
        F.when(lo_first, F.col("dv")).otherwise(F.col("du")).alias("rb_deg"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select("a", F.col("b").alias("m"), F.col("rb_deg").alias("dm"))
    o2 = oriented.select(F.col("a").alias("a2"), F.col("b").alias("n"),
                         F.col("rb_deg").alias("dn"))
    wedge_lt = (F.col("dm") < F.col("dn")) | (
        (F.col("dm") == F.col("dn")) & (F.col("m") < F.col("n"))
    )
    wedges = (
        o1.join(o2, o1.a == o2.a2)
        .filter(wedge_lt)
        .select("a", "m", "n")
    )
    closing = oriented.select(F.col("a").alias("m"), F.col("b").alias("n"))
    tris = wedges.join(closing, ["m", "n"])
    per_node = (
        tris.select(F.explode(F.array("a", "m", "n")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    return per_node.select(
        F.col("node").cast("long").alias("node"),
        F.col("n_triangles").cast("long").alias("n_triangles"),
    ).orderBy("node")


def co_supply_edges(spark, sf_dir: str, parts=lambda ps: ps) -> DataFrame:
    """The supplier co-supply graph: one (src, dst) edge, src < dst,
    per pair of suppliers that ship the same part, restricted to
    quantity-1 lineitems so the graph stays sparse and data-dependent.
    ``parts`` may filter the distinct (p, s) part list before the
    self-join."""
    from mapreducego_spark.sources.catalog import load_table

    li = load_table(spark, sf_dir, "lineitem")
    ps = parts(
        li.filter(F.col("l_quantity") == 1)
        .select(F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s"))
        .distinct()
    )
    a = ps.select("p", F.col("s").alias("src"))
    b = ps.select(F.col("p").alias("p2"), F.col("s").alias("dst"))
    return (
        a.join(b, a.p == b.p2)
        .filter(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )


def _cap_hot_parts(ps: DataFrame) -> DataFrame:
    from mapreducego_spark.operators.util import guard_limit

    sizes = ps.groupBy("p").agg(F.count(F.lit(1)).alias("__n"))
    return (
        ps.join(sizes, "p")
        .filter(
            guard_limit(
                F.col("__n"),
                1000,
                F.lit(
                    "triangle_count_suppliers: a part with >1000 suppliers "
                    "makes the co-supply clique quadratic; pre-cap hot parts"
                ),
            )
        )
        .drop("__n")
    )


def triangle_count_suppliers(spark, sf_dir: str) -> DataFrame:
    """Registry entry: triangles in the supplier co-supply graph
    (co_supply_edges), with parts of more than 1000 suppliers refused.
    Oracle: DuckDB enumerates the same canonical u<v<w triangles with
    a 3-way self-join; per-node counts are orientation-invariant, so
    the degree-ordered Spark plan must match exactly."""
    return triangle_count(co_supply_edges(spark, sf_dir, _cap_hot_parts))


def shortest_paths(
    edges: DataFrame,
    source: int,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 30,
) -> DataFrame:
    """Single-source BFS hop distances over an undirected edge list —
    the fourth graph kernel (after components, PageRank, triangles),
    and the one whose distributed form IS frontier expansion: each
    round joins the current frontier to the edge list, keeps only
    NEWLY reached nodes (left anti against the settled set), and
    stops when a round discovers nothing. Rounds = eccentricity of
    the source, each one shuffle; settled/frontier tables are eagerly
    checkpointed so lineage stays flat (the connected_components
    policy). Unreachable nodes are absent from the output —
    distances are exact hop counts, fully deterministic."""
    e = (
        edges.select(F.col(src).alias("s"), F.col(dst).alias("d"))
        .union(edges.select(F.col(dst).alias("s"), F.col(src).alias("d")))
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    settled = (
        e.sparkSession.createDataFrame([(source, 0)], ["id", "dist"])
        .select(F.col("id").cast("long"), F.col("dist").cast("long"))
        .localCheckpoint(eager=True)
    )
    frontier = settled
    for hop in range(1, max_iter + 1):
        reached, n_new = checkpoint_observed(
            frontier.join(e, frontier.id == e.s)
            .select(F.col("d").alias("id"))
            .distinct()
            .join(settled, "id", "left_anti")
            .withColumn("dist", F.lit(hop).cast("long")),
            F.count(F.lit(1)),
        )
        if n_new == 0:
            return settled.orderBy("id")
        settled = settled.unionByName(reached).localCheckpoint(eager=True)
        frontier = reached
    raise RuntimeError(
        f"shortest_paths: frontier still growing after {max_iter} rounds "
        "(source eccentricity exceeds the guard) — raise max_iter"
    )


def shortest_paths_suppliers(spark, sf_dir: str) -> DataFrame:
    """Registry entry: BFS hop distances from the smallest supplier
    in the co-supply graph (co_supply_edges).
    Oracle: DuckDB recursive CTE taking the MIN hop per node —
    identical distances by BFS optimality."""
    edges = co_supply_edges(spark, sf_dir)
    source = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    return shortest_paths(edges, int(source))


def bellman_ford_bounded(
    edges: DataFrame,
    source: int,
    rounds: int = 6,
    src: str = "src",
    dst: str = "dst",
    weight: str = "w",
) -> DataFrame:
    """Hop-bounded single-source WEIGHTED shortest paths — the fifth
    graph kernel, completing the pair with BFS (shortest_paths):
    after k rounds of Bellman-Ford relaxation, dist(v) is exactly
    the minimum total weight over paths of <= k edges, the
    "cheapest route within k legs" question of logistics/network
    planning, and (with k = |V|-1) full Bellman-Ford 1958.

    Each round relaxes EVERY edge once: candidates = dist |><| edges
    (one shuffle), then min per node over old dist + candidates (one
    map-side-combined aggregate). Integer weights keep every cost a
    LONG, so min() is engine-exact and the fixed-round unrolled SQL
    twin reproduces each table bit-for-bit. localCheckpoint per
    round keeps lineage flat (the connected_components policy; swap
    for checkpoint(dir) on clusters with executor churn)."""
    e = (
        edges.select(
            F.col(src).alias("s"), F.col(dst).alias("d"),
            F.col(weight).cast("long").alias("w"),
        )
        .union(
            edges.select(
                F.col(dst).alias("s"), F.col(src).alias("d"),
                F.col(weight).cast("long").alias("w"),
            )
        )
        .filter(F.col("s") != F.col("d"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    dist = (
        e.sparkSession.createDataFrame([(source, 0)], ["id", "cost"])
        .select(F.col("id").cast("long"), F.col("cost").cast("long"))
        .localCheckpoint(eager=True)
    )
    for _ in range(rounds):
        cand = dist.join(e, dist.id == e.s).select(
            F.col("d").alias("id"), (F.col("cost") + F.col("w")).alias("cost")
        )
        dist = (
            dist.unionByName(cand)
            .groupBy("id")
            .agg(F.min("cost").alias("cost"))
            .localCheckpoint(eager=True)
        )
    return dist.orderBy("id")


def weighted_paths_suppliers(spark, sf_dir: str) -> DataFrame:
    """Registry entry: 6-round Bellman-Ford from the smallest
    supplier over the co-supply graph (co_supply_edges) with deterministic
    integer weights w = 1 + (src + dst) % 7. Oracle: the same six
    relaxations unrolled as chained CTEs (the pagerank_exact
    pattern) — bit-identical LONG arithmetic, no float, no
    tolerance."""
    edges = co_supply_edges(spark, sf_dir).withColumn(
        "w", (1 + (F.col("src") + F.col("dst")) % 7).cast("long")
    )
    source = edges.agg(F.min(F.least("src", "dst"))).collect()[0][0]
    return bellman_ford_bounded(edges, int(source), rounds=6)


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node — how close each node's
    neighborhood is to a clique: C(v) = 2*T(v) / (d(v)*(d(v)-1)),
    the standard small-world / community-structure statistic (Watts
    & Strogatz 1998) and the natural consumer of triangle_count's
    kernel output.

    Exactness: T and d are exact LONGs (triangle kernel + degree
    aggregate); the coefficient surfaces as the INTEGER pair
    (2T, d(d-1)) plus one double division rounded at the end, so
    the driver hash-compares without float drift. Degree-1 nodes
    (denominator 0) report coefficient 0 by convention. One extra
    full-outer join over the triangle output — the kernel dominates
    the cost."""
    e = (
        edges.select(
            F.least(F.col(src), F.col(dst)).cast("long").alias("u"),
            F.greatest(F.col(src), F.col(dst)).cast("long").alias("v"),
        )
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("degree"))
    )
    tri = triangle_count(e, src="u", dst="v")
    joined = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce("n_triangles", F.lit(0)).cast("long").alias("n_triangles"),
    )
    den = F.col("degree") * (F.col("degree") - 1)
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        F.when(den > 0,
               F.round(
                   (2 * F.col("n_triangles")).cast("double")
                   / den.cast("double"), 6)
               ).otherwise(F.lit(0.0)).alias("coefficient"),
    ).orderBy("node")


def clustering_coefficient_suppliers(spark, sf_dir: str) -> DataFrame:
    """Registry entry: local clustering coefficients over the
    co-supply graph (co_supply_edges)."""
    return clustering_coefficient(co_supply_edges(spark, sf_dir))


def kcore_peel(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """k-core decomposition by fixed-round peeling: repeatedly drop
    every node of degree < k (with its edges) — the standard
    graph-cleaning pass before community/centrality work (pendant
    chains and sparse fringe melt away; the dense core survives).
    The fixed round count keeps the computation engine-exact and
    oracle-expressible (the DuckDB twin unrolls the same rounds as
    chained CTEs, the pagerank_exact / weighted_paths pattern); a
    pytest asserts the fixture reaches the fixpoint within
    ``rounds``, so the output IS the true k-core there.

    Per round: one degree aggregate over the live edge set + two
    semi-joins to keep only survivor-survivor edges — a shuffle per
    round on the node key, mirroring connected_components' bounded-
    rounds discipline. The live edge set is localCheckpointed each
    round (each round references it three times; without the cut
    the recompute tree doubles per round).

    Output: (node, degree) over the final live subgraph, ordered."""
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .distinct()
        .localCheckpoint()
    )
    live = sym
    for _ in range(rounds):
        deg = live.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
        survivors = deg.filter(F.col("deg") >= k).select("a").localCheckpoint()
        live = (
            live.join(survivors, "a", "left_semi")
            .join(
                survivors.select(F.col("a").alias("b")), "b", "left_semi"
            )
            .localCheckpoint()
        )
    final_deg = live.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    return final_deg.select(
        F.col("a").cast("long").alias("node"),
        F.col("deg").cast("long").alias("degree"),
    ).orderBy("node")


def kcore_suppliers(spark, sf_dir: str) -> DataFrame:
    """Registry entry: 3-core of the co-supply graph (co_supply_edges)."""
    return kcore_peel(co_supply_edges(spark, sf_dir), k=3, rounds=4)
