"""Graph centrality over edge lists (SURVEY.md §2.10 extension surface).

Complements the connected-components machinery in :mod:`.dedup`
(``dedup_clusters``) with PageRank — the standard importance measure for
curation graphs: domain authority for web-crawl filtering, actor centrality
over event co-occurrence networks, source weighting for mixture design.

Spark-first shape: the graph only ever exists as an edge-list DataFrame.
Each power-iteration round is one join (edges × ranks on ``src``) plus one
grouped sum on ``dst`` — both shuffles on integer keys, never on payloads.
Dangling-node mass and the teleport term are 1-row driver aggregates
(bounded driver work, the IVF/CC discipline), and ``localCheckpoint``
truncates lineage every :data:`CHECKPOINT_INTERVAL` rounds so 10+
iterations don't stack a 10-deep plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

#: rounds between ``localCheckpoint``s of iterative state (and after the
#: last): bounded lineage at half the jobs of checkpointing every round
CHECKPOINT_INTERVAL = 2


def pagerank(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    damping: float = 0.85,
    max_iter: int = 10,
    dedup_edges: bool = True,
) -> DataFrame:
    """Power-iteration PageRank over a directed edge list.

    Semantics: standard Brin-Page with uniform teleport and dangling-mass
    redistribution — ``r' = (1-d)/n + d * (Σ_in r/outdeg + dangling/n)``.
    Every node appearing as source or destination participates; parallel
    edges collapse to one unless ``dedup_edges=False`` (then multiplicity
    weights the transition). Returns (node, rank) with ``Σ rank = 1`` up to
    float roundoff.

    Not SQL-oracle-expressible bit-identically (per-node in-neighbor sums
    are engine-order-dependent floats); invariants are pinned in
    ``tests/test_graph.py`` against a pure-Python power iteration.
    """
    if not 0.0 < damping < 1.0:
        raise ValueError("damping must be in (0, 1)")
    raw = edges.select(
        F.col(src_col).alias("src"), F.col(dst_col).alias("dst")
    ).filter(F.col("src").isNotNull() & F.col("dst").isNotNull())
    # Collapse the raw edge list ONCE into a row-stochastic weighted
    # adjacency: parallel edges become a multiplicity weight (or 1 under
    # dedup_edges), normalized by out-weight. Iterations then join against
    # |distinct pairs| rows, not |raw edges| — on multiplicity-heavy graphs
    # (co-occurrence, trade) that is orders of magnitude smaller.
    mult = raw.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("__m__"))
    w = F.lit(1.0) if dedup_edges else F.col("__m__").cast("double")
    adj = mult.select("src", "dst", w.alias("w"))
    outw = adj.groupBy("src").agg(F.sum("w").alias("outw"))
    adj = (
        adj.join(outw, "src")
        .select("src", "dst", (F.col("w") / F.col("outw")).alias("p"))
        .localCheckpoint()
    )

    nodes = (
        adj.select(F.col("src").alias("node"))
        .union(adj.select(F.col("dst").alias("node")))
        .distinct()
        .localCheckpoint()
    )

    # (node, outdeg) for every node; dangling nodes get outdeg NULL
    base = nodes.join(
        outw.select(F.col("src").alias("__s__"), F.col("outw").alias("outdeg")),
        nodes.node == F.col("__s__"),
        "left",
    ).select("node", "outdeg").localCheckpoint()

    # ONE bounded driver aggregate answers both setup probes (|nodes| and
    # any-dangling?) — the old separate nodes.count() + limit(1).count()
    # pair cost two scheduler round-trips per pagerank call
    probe = base.agg(
        F.count(F.lit(1)).alias("__n__"),
        F.count(F.when(F.col("outdeg").isNull(), F.lit(1))).alias("__nd__"),
    ).first()
    n = probe["__n__"]
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))

    ranks = base.select("node", F.lit(1.0 / n).alias("rank"), "outdeg")
    teleport = (1.0 - damping) / n
    # Dangling handling costs a 1-row aggregate per round; most curation
    # graphs (co-occurrence, trade, link graphs with back-edges) have none,
    # so the probe above picks the cheaper loop body when possible.
    has_dangling = probe["__nd__"] > 0
    for it in range(max_iter):
        contrib = (
            adj.join(ranks, adj.src == ranks.node, "inner")
            .select("dst", (F.col("rank") * F.col("p")).alias("c"))
            .groupBy("dst")
            .agg(F.sum("c").alias("inflow"))
        )
        new_rank = F.lit(teleport) + F.lit(damping) * F.coalesce(
            "inflow", F.lit(0.0)
        )
        joined = base.join(contrib, base.node == contrib.dst, "left")
        if has_dangling:
            # the dangling mass is a 1-row aggregate broadcast to every node
            # inside the SAME job — no driver round-trip per iteration
            dang = ranks.filter(F.col("outdeg").isNull()).agg(
                F.coalesce(F.sum("rank"), F.lit(0.0)).alias("__dang__")
            )
            joined = joined.crossJoin(F.broadcast(dang))
            new_rank = new_rank + F.lit(damping) * (F.col("__dang__") / n)
        ranks = joined.select("node", new_rank.alias("rank"), "outdeg")
        if (it + 1) % CHECKPOINT_INTERVAL == 0 or it == max_iter - 1:
            ranks = ranks.localCheckpoint()
    return ranks.select("node", "rank")


def triangle_count(
    edges: DataFrame, src_col: str = "src", dst_col: str = "dst"
) -> DataFrame:
    """Per-node triangle counts over an undirected edge list.

    Edges are normalized to ordered distinct pairs ``(a < b)`` (direction,
    duplicates, and self-loops all collapse). A triangle ``a < b < c`` is
    found exactly once: wedge-join ``(a,b) x (b,c)`` on the shared middle
    node, then verify the closing edge ``(a,c)`` with a semi join. Returns
    ``(node, n_triangles)`` for every node of the edge list (0 for
    triangle-free nodes).

    Scale shape: two equi-joins on integer node ids — the wedge join is
    the O(sum deg^2) step every distributed triangle algorithm pays; the
    ordered orientation halves it and guarantees once-per-triangle without
    a global dedup. No cartesian, payloads never travel (ids only).
    """
    # materialize the normalized edge list ONCE — it feeds four consumers
    # (both wedge sides, the closing-edge probe, the node universe); without
    # this the upstream derivation (often a join+groupBy) re-executes per
    # consumer and the plan quadruples its exchanges
    e = (
        edges.select(
            F.least(F.col(src_col), F.col(dst_col)).alias("a"),
            F.greatest(F.col(src_col), F.col(dst_col)).alias("b"),
        )
        .filter(F.col("a") < F.col("b"))
        .distinct()
        .localCheckpoint()
    )
    ab = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_b"))
    bc = e.select(F.col("a").alias("t_b2"), F.col("b").alias("t_c"))
    wedges = ab.join(bc, F.col("t_b") == F.col("t_b2")).select(
        "t_a", "t_b", "t_c"
    )
    closing = e.select(F.col("a").alias("t_a"), F.col("b").alias("t_c"))
    tris = wedges.join(closing, ["t_a", "t_c"], "left_semi")
    per_node = (
        tris.select(F.explode(F.array("t_a", "t_b", "t_c")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    nodes = (
        e.select(F.col("a").alias("node"))
        .union(e.select(F.col("b").alias("node")))
        .distinct()
    )
    return nodes.join(per_node, "node", "left").select(
        "node", F.coalesce("n_triangles", F.lit(0)).alias("n_triangles")
    )


def k_hop(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    *,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Minimum-hop labels for every node within ``k`` hops of a seed set
    (bounded BFS). Returns ``(node, hop)`` with ``hop`` in ``0..k`` — the
    distributed twin of a bounded recursive CTE.

    Frontier discipline: each round expands only the PREVIOUS frontier
    (one equi-join edges x frontier on int keys), dedups the new frontier,
    and anti-joins the visited set, so a node is expanded exactly once at
    its minimum hop — work is O(edges incident to newly reached nodes) per
    round, never O(paths) like the naive CTE. ``localCheckpoint`` per
    round keeps the lineage flat across iterations.
    """
    if k < 0:
        raise ValueError("k must be >= 0")
    e = edges.select(
        F.col(src_col).alias("u"), F.col(dst_col).alias("v")
    ).filter(F.col("u").isNotNull() & F.col("v").isNotNull())
    if not directed:
        e = e.union(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    e = e.distinct().localCheckpoint()

    frontier = (
        seeds.select(F.col(seed_col).alias("node")).distinct().localCheckpoint()
    )
    # layers are individually checkpointed, so the visited union is a
    # shallow plan over materialized pieces — checkpointing the union per
    # round would re-materialize all prior layers every iteration
    layers = [frontier.withColumn("hop", F.lit(0))]
    visited_nodes = frontier
    for h in range(1, k + 1):
        # lazy checkpoint + count(): the count materializes the new
        # frontier (truncating lineage) and answers the emptiness check.
        # It is not one job: under AQE, building the lazy checkpoint runs
        # every shuffle stage of the round's plan as its own job, and the
        # count then runs its own
        nxt = (
            e.join(frontier, e.u == frontier.node)
            .select(F.col("v").alias("node"))
            .distinct()
            .join(visited_nodes, "node", "left_anti")
            .localCheckpoint(eager=False)
        )
        # the count both materializes the lazy checkpoint and answers the
        # emptiness check — but the FINAL round needs neither (the loop
        # ends regardless, and an empty layer unions to nothing), so skip
        # its barrier jobs entirely and let the consumer's jobs compute
        # the last frontier
        if h < k:
            if nxt.count() == 0:
                break
        layers.append(nxt.withColumn("hop", F.lit(h)))
        visited_nodes = visited_nodes.union(nxt)
        frontier = nxt
    out = layers[0]
    for layer in layers[1:]:
        out = out.union(layer)
    return out


def label_propagation(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    *,
    max_iter: int = 4,
    weight_col: str | None = None,
) -> DataFrame:
    """Synchronous label-propagation community detection (Raghavan 2007,
    public method; the GraphFrames ``labelPropagation`` shape — fixed
    ``max_iter`` rounds, no convergence detection) with a DETERMINISTIC
    total tie-break: every round, each node adopts the label carrying the
    greatest incident weight, ties to the smallest label. Undirected via
    symmetrization; labels start as node ids; ``weight_col`` weights the
    votes (default: each edge votes 1 each direction). Returns
    (node, label).

    Synchronous LPA can oscillate on bipartite structures — the bounded
    ``max_iter`` IS the semantics here (a labels-after-T-rounds snapshot),
    which with exact integer vote weights and the total (weight desc,
    label asc) order makes every round engine-exact: ``q_label_propagation``
    replays all rounds in DuckDB with NO rounding. A python-reference
    differential on adversarial graphs lives in tests/test_graph.py.

    Scale shape: per round, ONE equi-join of the symmetrized edge list
    against the (node, label) frame + one grouped sum + one per-node
    window over that node's candidate labels (bounded by its degree's
    distinct labels). Labels are ids, never payloads; ``localCheckpoint``
    every :data:`CHECKPOINT_INTERVAL` rounds truncates the iterative lineage
    (the pagerank discipline).
    """
    if max_iter < 1:
        raise ValueError(f"need max_iter >= 1, got {max_iter}")
    w = (
        F.col(weight_col).cast("double")
        if weight_col
        else F.lit(1).cast("long")
    )
    half = edges.select(
        F.col(src_col).alias("me"), F.col(dst_col).alias("nbr"), w.alias("w")
    ).filter(F.col("me").isNotNull() & F.col("nbr").isNotNull())
    sym = half.unionByName(
        half.select(F.col("nbr").alias("me"), F.col("me").alias("nbr"), "w")
    ).localCheckpoint()
    labels = (
        sym.select(F.col("me").alias("node")).distinct()
        .select("node", F.col("node").alias("label"))
        .localCheckpoint()
    )
    rank_w = Window.partitionBy("me").orderBy(
        F.col("wt").desc(), F.col("label").asc()
    )
    for i in range(max_iter):
        votes = (
            sym.join(labels, sym.nbr == labels.node)
            .groupBy("me", "label")
            .agg(F.sum("w").alias("wt"))
        )
        labels = (
            votes.withColumn("__rn__", F.row_number().over(rank_w))
            .filter(F.col("__rn__") == 1)
            .select(F.col("me").alias("node"), "label")
        )
        if (i + 1) % CHECKPOINT_INTERVAL == 0 or i == max_iter - 1:
            labels = labels.localCheckpoint()
    return labels
