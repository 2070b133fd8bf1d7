"""GraphX-style analytics over edge lists (SURVEY.md §7 design stance:
GraphFrames-style joins from PySpark, not the Scala GraphX API; mandate
`BASELINE.json` north_star "analytical graph queries fit GraphX").

The edge list is the `value_type = 'relation'` slice of the quads model
(SURVEY.md §1.3): src = soul, dst = value_relation.  These operators
take any (src, dst) DataFrame, so they run equally on GunGraph relation
slices and on ad-hoc edge projections of the relational tables.

Determinism note (drives the DuckDB oracles): PageRank is computed in
**integer micro-units with floor division** — floating-point rank sums
are partition-order dependent and would break cross-engine value-hash
comparison; 64-bit integer sums are exact and order-free.  The rank of
a node after i iterations is identical, bit for bit, in any engine that
implements the same integer recurrence.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _degree_edges(
    edges: DataFrame, src: str, dst: str, checkpoint: str
) -> tuple[DataFrame, DataFrame]:
    """The one materialization both pageranks iterate over: ``(src, dst,
    _deg)``, each edge with its source's out-degree (a window count over
    src), cut by one lazy checkpoint that the first job fills; and the
    node set (src ∪ dst, distinct), derived from it and not cut again."""
    from pyspark.sql import Window

    from esgopeta_spark.operators.checkpoint import materialize

    by_src = Window.partitionBy("src")
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
    uncut = e.withColumn("_deg", F.count("*").over(by_src))
    ed = materialize(uncut, checkpoint, eager=False)
    # the job that fills the lazy checkpoint drops its lineage, the
    # driver's one hold on the SQL metrics of ``uncut``'s plan, while tasks
    # of a job AQE runs alongside still report to them; a JVM GC then logs
    # "Failed to update accumulator" per metric and task.  Holding
    # ``uncut`` for as long as ``ed`` and the ranks built on it keeps them.
    ed._uncut = uncut
    return ed, ed.select(F.col("src").alias("node")).union(ed.select("dst")).distinct()


def _iterate_rank(
    ed: DataFrame, base: DataFrame, start: Column, teleport: Column, iterations: int
) -> DataFrame:
    """The integer recurrence over ``ed``: r0(v) = start(v), then per
    round rank'(v) = teleport(v) + (85 · Σ_u→v rank(u) DIV _deg(u)) DIV 100
    for every ``node`` of ``base`` (``start``/``teleport`` read its
    columns).  Returns (node, rank_micro)."""
    rank = base.select("node", start.cast("bigint").alias("rank_micro"))
    for _ in range(iterations):
        contrib = (
            ed.join(rank, ed.src == rank.node)
            .select("dst", F.expr("rank_micro DIV _deg").alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        rank = base.join(contrib, base.node == contrib.dst, "left").select(
            "node",
            (teleport + F.expr("(85 * coalesce(_in, 0)) DIV 100")).cast("bigint").alias("rank_micro"),
        )
    rank._uncut = ed._uncut  # see _degree_edges
    return rank


def pagerank(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
) -> DataFrame:
    """Fixed-iteration PageRank (damping 0.85) over a directed edge list.

    Returns (node, rank_micro): rank in integer millionths, start mass
    1_000_000 per node.  Recurrence per iteration, all in BIGINT:

        contrib(u)  = rank(u) DIV out_degree(u)          -- per edge
        rank'(v)    = 150000 + (85 * sum contrib) DIV 100

    Dangling-node mass (nodes with no out-edges) is dropped, not
    redistributed — the simplified formulation; the oracle mirrors it.

    Plan shape: the degree-annotated edges are materialized once
    (``checkpoint`` picks local or reliable blocks) and the node set and
    every round read them; each round is edges ⋈ rank (shuffle on src)
    then a sum-shuffle on dst with map-side partial aggregation.  The
    iteration count is a small constant, so the growing plan is harmless
    (cf. dup_components for unbounded iteration).  At scale,
    pre-partition edges by src and ranks by node.
    """
    ed, nodes = _degree_edges(edges, src, dst, checkpoint)
    return _iterate_rank(ed, nodes, F.lit(1000000), F.lit(150000), iterations)


def triangle_counts(
    edges: DataFrame, src: str = "src", dst: str = "dst", checkpoint: str = "local"
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED graph given as any
    edge list (direction and duplicates ignored; self-loops dropped).

    Degree-ordered orientation (the scale-critical trick): each
    undirected edge is directed from its lower-(degree, id) endpoint to
    the higher one, making the graph a DAG in which every triangle has
    exactly one apex with two out-edges.  Wedge enumeration then costs
    Σ out_deg², and out-degree under this orientation is bounded by
    O(√m) — on skewed graphs this collapses the wedge count by orders
    of magnitude versus naive id-ordering (a hub of degree d generates
    d²/2 wedges under id-order but only its *out*-wedges here).  Both
    joins stay equi-joins; per-node counts come from exploding each
    triangle into its three corners.
    """
    from esgopeta_spark.operators.checkpoint import materialize

    # materialize the canonical edge set ONCE: it feeds the degree count
    # (twice via unionAll), the orientation join, and the closing-edge
    # probe — without this the (often expensive) edge producer re-runs
    # per branch (measured 2x the whole query on the co-order graph)
    e = materialize(
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct(),
        checkpoint,
    )
    deg = (
        e.select(F.col("a").alias("node"))
        .unionAll(e.select(F.col("b").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    ew = (
        e.join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "_da"), "a")
        .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "_db"), "b")
    )
    a_first = (F.col("_da") < F.col("_db")) | ((F.col("_da") == F.col("_db")) & (F.col("a") < F.col("b")))
    # r14 (optimization, guide §5 materialize-once): `oriented` feeds
    # THREE consumers (both wedge sides and the closing-edge probe), and
    # exchange reuse does not bridge the aliased branches under AQE —
    # without this cut the degree aggregate and both degree joins ran
    # 3x each (the before-plan is 329 nodes with 6 copies of the degree
    # Union+HashAggregate; see plans/r14/graph_triangles_coorder_*).
    # Values unchanged: the same narrow (u, v, _dv) relation, only
    # computed once.
    oriented = materialize(
        ew.select(
            F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"),
            F.when(a_first, F.col("b")).otherwise(F.col("a")).alias("v"),
            F.when(a_first, F.col("_db")).otherwise(F.col("_da")).alias("_dv"),
        ),
        checkpoint,
    )
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("_dv").alias("_d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("_dv").alias("_d2"))
    wedge_order = (F.col("_d1") < F.col("_d2")) | (
        (F.col("_d1") == F.col("_d2")) & (F.col("v1") < F.col("v2"))
    )
    wedges = o1.join(o2, "u").filter(wedge_order)  # each out-pair of the apex once
    close = oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2"))
    tri = wedges.join(close, ["v1", "v2"])  # closing edge is oriented v1 -> v2 by transitivity
    corners = (
        tri.select(F.col("u").alias("node"))
        .unionAll(tri.select(F.col("v1").alias("node")))
        .unionAll(tri.select(F.col("v2").alias("node")))
    )
    return corners.groupBy("node").agg(F.count("*").alias("triangles"))


def shortest_hops(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    node: str = "node",
    checkpoint: str = "local",
) -> DataFrame:
    """Multi-source BFS hop distance (the GraphX ShortestPaths analog,
    Pregel's hello-world) over a DIRECTED edge list; pass the edge union
    of both directions for undirected semantics.

    Returns (node, hops) for every node reachable within ``max_hops``
    from ANY source (sources themselves at 0) — hops is the minimum hop
    count, all integers, so the result is engine-exact.

    Frontier shape: each round joins only the NEWLY discovered frontier
    against the edge list (never the accumulated distance set), anti-joins
    out already-visited nodes, and appends.  Each round's frontier and the
    growing distance set are localCheckpoint-ed so Catalyst re-analysis
    of an ever-deeper plan never dominates (CLAUDE.md loop rule) and the
    edge relation is materialized once.  At 100 TB: pre-partition edges
    by src and keep the frontier on the same key so each round's join is
    co-located; the visited set stays node-keyed for the anti-join.
    """
    from esgopeta_spark.operators.checkpoint import materialize

    e = materialize(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")), checkpoint)
    dist = materialize(
        sources.select(F.col(node).alias("node"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("bigint")),
        checkpoint,
    )
    frontier = dist
    for h in range(1, max_hops + 1):
        nxt = materialize(
            frontier.join(e, frontier.node == e.src)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(dist.select("node"), "node", "left_anti")
            .withColumn("hops", F.lit(h).cast("bigint")),
            checkpoint,
        )
        if nxt.isEmpty():
            break
        dist = materialize(dist.unionByName(nxt), checkpoint)
        frontier = nxt
    return dist


def label_propagation(
    edges: DataFrame,
    rounds: int = 3,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan et al.
    2007, arXiv:0709.2938; the GraphX LabelPropagation analog) over an
    edge list treated as UNDIRECTED (symmetrized, de-duplicated,
    self-loops dropped).

    Returns (node, community).  Fully DETERMINISTIC, unlike textbook
    async LPA: all nodes update simultaneously each round, every node
    starts as its own label, and a node's next label is its neighbors'
    most frequent label with ties broken by the SMALLEST label — a total
    order, so the result is reproducible at any parallelism and
    expressible as an unrolled SQL oracle (one CTE block per round,
    catalog entry graph_communities_lpa).

    Plan shape per round: one equi-join of edges against the label
    relation (shuffle on the neighbor key), one (node, label) partial
    aggregate, one per-node argmax window — all narrow integer rows.
    Rounds is a small constant (sync LPA stabilizes in a few rounds;
    fixed count keeps it oracle-able), each lineage-cut per the
    ``checkpoint`` knob (operators/checkpoint.py).  At 100 TB:
    pre-partition edges by the neighbor key so the per-round join
    co-locates; skew from hub communities flattens because the argmax
    aggregates before the window.
    """
    from pyspark.sql.window import Window

    from esgopeta_spark.operators.checkpoint import materialize

    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    e = materialize(
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct(),
        checkpoint,
    )
    labels = e.select(F.col("a").alias("node")).distinct().withColumn(
        "label", F.col("node")
    )
    w = Window.partitionBy("node").orderBy(F.col("_c").desc(), F.col("label").asc())
    for _ in range(rounds):
        gathered = (
            e.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count(F.lit(1)).alias("_c"))
        )
        labels = materialize(
            gathered.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label"),
            checkpoint,
        )
    return labels.select("node", F.col("label").alias("community"))


def kcore_members(
    edges: DataFrame,
    k: int = 3,
    rounds: int = 8,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
    require_convergence: bool = True,
) -> DataFrame:
    """k-core decomposition membership (Seidman 1983, "Network structure
    and minimum degree"; the GraphX-ecosystem staple for graph
    densification / spam-node pruning): iteratively peel nodes whose
    degree in the SURVIVING subgraph is below ``k`` until fixpoint; the
    survivors are the k-core.

    Edge list is treated as UNDIRECTED (symmetrized, de-duplicated,
    self-loops dropped); degree counts distinct neighbors.  Returns
    (node, core_deg) — each surviving node with its degree inside the
    core (>= k by construction).  All-integer, order-free, so the result
    is engine-exact; ``rounds`` is a fixed unroll bound (the catalog
    oracle unrolls the same rounds) with an early driver-side break when
    a round removes nothing.  Convergence is ENFORCED in the operator:
    if the bound exhausts while the last round still peeled edges, the
    result would be a superset of the true k-core, so the operator
    raises ValueError (peel rounds needed is typically O(log n) in
    practice).  Pass ``require_convergence=False`` to instead get the
    best-effort superset — for interactive exploration only.

    Plan shape per round: one (node) partial-agg degree count + one
    semi-join of the edge list against survivors on EACH endpoint —
    narrow integer rows throughout, every join equi.  Each round's edge
    relation is lineage-cut per the ``checkpoint`` knob.  At 100 TB:
    pre-partition edges by ``a`` so the degree agg and the first
    survivor semi-join co-locate; the second semi-join reuses the
    survivor relation (tiny after the first peels) as a broadcast.
    """
    from esgopeta_spark.operators.checkpoint import materialize

    und = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .filter(F.col("a") != F.col("b"))
    )
    e = materialize(
        und.unionByName(und.select(F.col("b").alias("a"), F.col("a").alias("b"))).distinct(),
        checkpoint,
    )
    n_edges = e.count()
    converged = n_edges == 0
    for _ in range(rounds):
        if n_edges == 0:
            converged = True
            break
        survivors = (
            e.groupBy("a").agg(F.count(F.lit(1)).alias("_d")).filter(F.col("_d") >= k).select("a")
        )
        e2 = materialize(
            e.join(survivors, "a", "semi").join(
                survivors.withColumnRenamed("a", "b"), "b", "semi"
            ).select("a", "b"),
            checkpoint,
        )
        n2 = e2.count()
        if n2 == n_edges:  # fixpoint: nothing peeled this round
            converged = True
            break
        e, n_edges = e2, n2
    converged = converged or n_edges == 0  # peeled to empty on the final round
    if not converged and require_convergence:
        raise ValueError(
            f"kcore_members did not reach fixpoint within rounds={rounds} "
            f"({n_edges} edges still peeling); raise the bound — a silent "
            "return here would be a SUPERSET of the true k-core"
        )
    return (
        e.groupBy(F.col("a").alias("node"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("core_deg"))
        .filter(F.col("core_deg") >= k)
    )


def cheapest_path_costs(
    edges: DataFrame,
    sources: DataFrame,
    max_hops: int = 4,
    src: str = "src",
    dst: str = "dst",
    cost: str = "cost",
    node: str = "node",
    checkpoint: str = "local",
) -> DataFrame:
    """Hop-bounded cheapest-path costs from a source set — the WEIGHTED
    companion to ``shortest_hops`` (synchronous Bellman-Ford rounds, the
    Pregel SSSP classic).  Returns (node, cost) where cost is the
    minimum total edge cost over any path of <= ``max_hops`` edges from
    any source (sources at 0).  Costs must be non-negative int64 (use
    cents/micro units); everything stays integer, so the result is
    engine-exact and the oracle unrolls the same rounds.

    Per round: one equi-join of the current distance relation against
    the edge list (shuffle on the relax key) + one (node) min partial
    agg — narrow integer rows; lineage cut per round; early break when a
    round improves nothing (post-fixpoint rounds are no-ops, so the
    fixed oracle unroll agrees).  At 100 TB: pre-partition edges by
    ``src`` so each round's relax join co-locates; unlike the BFS
    frontier this must re-relax the full distance relation each round
    (costs can improve after first discovery), which is the documented
    Bellman-Ford price for weighted paths.
    """
    from esgopeta_spark.operators.checkpoint import materialize

    e = materialize(
        edges.select(
            F.col(src).alias("src"), F.col(dst).alias("dst"), F.col(cost).cast("bigint").alias("w")
        ),
        checkpoint,
    )
    dist = materialize(
        sources.select(F.col(node).alias("node")).distinct().withColumn(
            "cost", F.lit(0).cast("bigint")
        ),
        checkpoint,
    )
    for h in range(max_hops):
        cand = (
            dist.join(e, dist.node == e.src)
            .select(F.col("dst").alias("node"), (F.col("cost") + F.col("w")).alias("cost"))
        )
        nxt = materialize(
            dist.unionByName(cand).groupBy("node").agg(F.min("cost").alias("cost")),
            checkpoint,
        )
        if h == max_hops - 1:  # break decision is moot on the final round:
            dist = nxt  # don't pay the improved-rows join/count for it
            break
        # improved = strictly cheaper or newly reached rows; 0 -> fixpoint
        improved = nxt.join(
            dist.withColumnRenamed("cost", "_old"), "node", "left"
        ).filter(F.col("_old").isNull() | (F.col("cost") < F.col("_old")))
        n_improved = improved.count()
        dist = nxt
        if n_improved == 0:
            break
    return dist


def hits_scores(
    edges: DataFrame,
    rounds: int = 2,
    src: str = "src",
    dst: str = "dst",
    checkpoint: str = "local",
) -> DataFrame:
    """HITS hubs-and-authorities (Kleinberg 1999, "Authoritative sources
    in a hyperlinked environment" — public) over a DIRECTED edge list,
    UNNORMALIZED: each round is the pure integer mutual recursion
    ``auth[v] = sum(hub[u]) over u->v`` then ``hub[u] = sum(auth[v])
    over u->v`` from all-ones — the per-round L2 normalization only
    rescales (ranking-invariant at a fixed round count), and dropping it
    keeps every score exact int64, hence engine-exact and
    oracle-unrollable.  Scores grow ~(max degree)^2 per round: bounded
    ``rounds`` (default 2) keeps them far inside int64 for any realistic
    degree distribution (guard: 10^4-degree hubs reach ~10^16 at round
    2 — raise rounds only with micro-scaled division).

    Per round: two equi-joins + two (node) partial-agg sums of narrow
    integer rows, lineage-cut.  At 100 TB: pre-partition edges by each
    join key (the same edge relation is probed on src and dst — store
    both orientations bucketed) so every round co-locates.
    """
    from esgopeta_spark.operators.checkpoint import materialize

    if rounds < 1:
        raise ValueError("hits_scores needs rounds >= 1")
    e = materialize(
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct(), checkpoint
    )
    # node set computed ONCE (a distinct shuffle over the edge relation)
    # and reused for both the all-ones seed and the final scaffold
    nodes = materialize(
        e.select(F.col("src").alias("node")).union(e.select("dst")).distinct(), checkpoint
    )
    hub = nodes.withColumn("hub", F.lit(1).cast("bigint"))
    auth = None
    for _ in range(rounds):
        auth = materialize(
            e.join(hub.withColumnRenamed("node", "src"), "src")
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum("hub").alias("auth")),
            checkpoint,
        )
        hub = materialize(
            e.join(auth.withColumnRenamed("node", "dst"), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.sum("auth").alias("hub")),
            checkpoint,
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce("hub", F.lit(0)).cast("bigint").alias("hub_score"),
            F.coalesce("auth", F.lit(0)).cast("bigint").alias("auth_score"),
        )
    )


def personalized_pagerank(
    edges: DataFrame,
    seeds: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
    seed_col: str = "node",
    checkpoint: str = "local",
) -> DataFrame:
    """Personalized PageRank (damping 0.85): the teleport mass lands on
    the SEED set only, so ranks measure proximity to the seeds — the
    GraphX-personalized-variant shape used for 'similar to these'
    expansion.  Integer micro-units with floor division (engine-exact,
    order-free), the same recurrence as :func:`pagerank`:

        teleport(v∈S) = (150000 · |V|) DIV |S|      else 0
        r0(v∈S)       = (1000000 · |V|) DIV |S|     else 0
        rank'(v)      = teleport(v) + (85 · Σ_u→v rank(u) DIV deg(u)) DIV 100

    (total mass scaled by |V| so values are comparable to the uniform
    variant; |V| and |S| ride a broadcast 1-row aggregate, no collect).
    S is the distinct seeds that are nodes of the graph.  Plan shape:
    pagerank's one edge materialization plus one more lazy checkpoint,
    the node set flagged by a broadcast seed join, which the |V|/|S|
    aggregate and every round re-read."""
    from esgopeta_spark.operators.checkpoint import materialize

    ed, nodes = _degree_edges(edges, src, dst, checkpoint)
    sd = seeds.select(F.col(seed_col).alias("node")).distinct()
    flagged = materialize(
        nodes.join(F.broadcast(sd.withColumn("_is_seed", F.lit(1))), "node", "left")
        .select("node", F.coalesce(F.col("_is_seed"), F.lit(0)).alias("_is_seed")),
        checkpoint,
        eager=False,
    )
    tot = flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("_nv"),
        F.sum("_is_seed").cast("bigint").alias("_ns"),
    )
    base = flagged.crossJoin(F.broadcast(tot))

    def seed_mass(m: int) -> Column:
        return F.expr(f"CASE WHEN _is_seed = 1 THEN ({m} * _nv) DIV _ns ELSE 0 END")

    return _iterate_rank(ed, base, seed_mass(1000000), seed_mass(150000), iterations)
