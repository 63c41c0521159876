"""Link-analysis and graph-structure operators over edge relations.

The clustering stack already walks graphs for CONNECTIVITY
(``dedup.py::connected_components``: hash-min propagation); this module
adds IMPORTANCE — PageRank (Page et al. 1999) over an arbitrary edge
relation, the ranking pass of reference-graph curation (which documents
does everything else cite/duplicate/link to?) and the classic
iterative-algebra workload a 100 TB engine must express without a graph
framework — plus local STRUCTURE (degree-oriented triangle counting,
the clustering-coefficient numerator) and bounded REACH (k-hop BFS,
the neighborhood-expansion pass of citation/link curation).

Design mirrors the deterministic-trajectory fit operators
(``similarity.py::kmeans_fit``/``pca_power_iteration``): every per-node
rank is ROUNDED in-engine each iteration, so the whole trajectory is
reproducible across engines/cluster sizes and a relational oracle can
unroll the iterations and hash-check every final rank.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

#: Compact the per-round checkpointed layer lists every this-many rounds:
#: the visited/distance view is a union over all accumulated layers, so
#: without compaction the per-round plan
#: (and, for Bellman-Ford, the unioned row count) grows LINEARLY in the
#: round count — fine at bounded k, quadratic-total-cost at hundreds of
#: rounds (deep SSSP). Folding the layers into ONE checkpointed relation
#: every R rounds bounds the plan at <= R+1 unioned inputs while keeping
#: the one-driver-blocking-action-per-round discipline: the compacted
#: relation is checkpointed LAZILY and materialized by the next round's
#: emptiness count, so compaction adds zero extra driver-blocking jobs
#: (the BFS fold is a plain union of disjoint layers — no new shuffle;
#: the SSSP fold is the same per-node MIN the per-round view already
#: computes).
_LAYER_COMPACT_EVERY = 8


def pagerank(
    edges: DataFrame,
    n_iter: int = 2,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    round_digits: int = 6,
) -> DataFrame:
    """PageRank over a directed edge relation, deterministic end to end.

    Standard formulation with uniform teleport and DANGLING-mass
    redistribution: nodes = distinct endpoints; ``pr0 = round(1/N, r)``;
    per iteration ``pr(v) = round((1-d)/N + d·(Σ_{u→v} pr(u)/out(u) +
    dangling/N), r)`` where ``dangling = round(Σ pr(u) over out(u)=0, r)``
    — without the dangling term a sink would silently leak rank mass and
    the result would depend on how many sinks the edge sample happens to
    contain.

    100 TB shape: the node and out-degree relations are built once and
    checkpointed (edge-sized aggregations, one hash shuffle each). Each
    iteration is one join of the rank relation to the edge relation on the
    source (hash-uniform — both sides keyed by node id) followed by a
    partial-combined sum keyed on the destination, plus a LEFT join back
    to the node relation to re-admit zero-in-degree nodes; the dangling
    mass rides INSIDE the iteration's dataflow as a 1-row aggregate
    broadcast back through a constant-key equi-join (BroadcastHashJoin —
    an equi condition, never the banned nested-loop cross; it replaces a
    per-round driver ``first()``, the term that grows with scheduler
    latency on a real cluster). Per-iteration rounding pins the
    trajectory cross-engine. Rank state is one row per node, never
    materialized driver-side.

    Returns ``(node, pr)``. Multi-edges count once per occurrence (each
    parallel edge carries its share) — deduplicate upstream if the input
    may repeat.
    """
    if n_iter < 1:
        raise ValueError(f"n_iter must be >= 1, got {n_iter}")
    if not (0.0 < damping < 1.0):
        raise ValueError(f"damping must be in (0, 1), got {damping}")
    e = edges.select(
        F.col(src_col).alias("_src"), F.col(dst_col).alias("_dst")
    ).localCheckpoint(eager=True)
    nodes = (
        e.select(F.col("_src").alias("node"))
        .unionByName(e.select(F.col("_dst").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    n = nodes.count()
    if n == 0:
        return nodes.select("node", F.lit(0.0).alias("pr")).limit(0)
    out_deg = e.groupBy(F.col("_src").alias("node")).agg(
        F.count("*").alias("_out")
    )
    # ranks ⟕ out-degree, carried through every iteration (out(u) = 0 for
    # dangling nodes; NULL after the left join → flagged, not divided by)
    state = (
        nodes.join(out_deg, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("_out"), F.lit(0)).alias("_out"),
            F.round(F.lit(1.0 / n), round_digits).alias("pr"),
        )
        .localCheckpoint(eager=True)
    )
    base = (1.0 - damping) / n
    for _ in range(n_iter):
        dangling = (
            state.filter(F.col("_out") == 0)
            .agg(
                F.round(
                    F.coalesce(F.sum("pr"), F.lit(0.0)), round_digits
                ).alias("_dang")
            )
            .withColumn("_k", F.lit(1))  # 1-row relation, constant key
        )
        contrib = (
            state.filter(F.col("_out") > 0)
            .join(e, state["node"] == e["_src"])
            .groupBy(F.col("_dst").alias("node"))
            .agg(F.sum(F.col("pr") / F.col("_out")).alias("_in"))
        )
        state = (
            state.select("node", "_out", F.lit(1).alias("_k"))
            .join(contrib, "node", "left")
            .join(F.broadcast(dangling), "_k")
            .select(
                "node",
                "_out",
                F.round(
                    F.lit(base)
                    + F.lit(damping)
                    * (
                        F.coalesce(F.col("_in"), F.lit(0.0))
                        + F.col("_dang") / F.lit(float(n))
                    ),
                    round_digits,
                ).alias("pr"),
            )
            .localCheckpoint(eager=True)
        )
    return state.select("node", "pr")


def triangle_counts(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """Per-node triangle counts over an UNDIRECTED simple graph, by
    degree-ordered edge orientation (Latapy 2008 "compact-forward"; the
    same orientation MapReduce triangle counting uses) — never the naive
    three-way self-join on raw edges.

    ``edges`` is the undirected edge SET given in either or both
    directions; it is canonicalized (min, max), deduplicated, and
    self-loops dropped. Each edge is then ORIENTED from its lower-rank to
    its higher-rank endpoint, rank = (degree, id): every triangle has
    exactly one node with two out-edges under this orientation, so each
    triangle materializes exactly once as a wedge (b, c) out of its apex
    that closes over an oriented edge b→c.

    100 TB shape: the quadratic step — pairing out-neighbors per apex —
    is bounded by the orientation: a node's OUT-degree under (degree, id)
    rank is O(√m) even when its raw degree is Θ(n) (a hub's neighbors
    almost all out-rank it), so the wedge relation is Σ out_deg² =
    O(m^1.5) worst case, the best known for exact counting, and in
    practice near-linear on power-law graphs. All three steps are
    equi-joins on node ids (hash-uniform after orientation breaks hubs);
    the final close is a semi-style join of wedges against oriented
    edges. No driver-side state.

    Returns ``(node, triangles)`` for EVERY node of the graph (zero for
    triangle-free nodes), ``triangles`` = number of distinct triangles
    the node belongs to — the local clustering coefficient's numerator.
    """
    lo, hi = F.least(F.col("_a"), F.col("_b")), F.greatest(
        F.col("_a"), F.col("_b")
    )
    und = (
        edges.select(
            F.col(src_col).alias("_a"), F.col(dst_col).alias("_b")
        )
        .filter(F.col("_a") != F.col("_b"))
        .select(lo.alias("_u"), hi.alias("_v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    deg = (
        und.select(F.col("_u").alias("node"))
        .unionByName(und.select(F.col("_v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_deg"))
        .localCheckpoint(eager=True)
    )
    # orient each canonical edge low-rank -> high-rank, rank = (deg, id)
    du = deg.select(F.col("node").alias("_u"), F.col("_deg").alias("_du"))
    dv = deg.select(F.col("node").alias("_v"), F.col("_deg").alias("_dv"))
    u_first = (F.col("_du") < F.col("_dv")) | (
        (F.col("_du") == F.col("_dv")) & (F.col("_u") < F.col("_v"))
    )
    oriented = (
        und.join(du, "_u")
        .join(dv, "_v")
        .select(
            F.when(u_first, F.col("_u")).otherwise(F.col("_v")).alias("_s"),
            F.when(u_first, F.col("_v")).otherwise(F.col("_u")).alias("_t"),
            # carry the rank of the head so wedge pairing can order the
            # two out-neighbors without re-joining degrees
            F.when(u_first, F.col("_dv")).otherwise(F.col("_du")).alias("_rt"),
        )
        .localCheckpoint(eager=True)
    )
    e1 = oriented.select(
        F.col("_s"), F.col("_t").alias("_b"), F.col("_rt").alias("_rb")
    )
    e2 = oriented.select(
        F.col("_s"), F.col("_t").alias("_c"), F.col("_rt").alias("_rc")
    )
    b_first = (F.col("_rb") < F.col("_rc")) | (
        (F.col("_rb") == F.col("_rc")) & (F.col("_b") < F.col("_c"))
    )
    wedges = (
        e1.join(e2, "_s")
        .filter(F.col("_b") != F.col("_c"))
        # keep each unordered out-pair once, oriented like the edges, so
        # the close below is a plain equi-join on (_s, _t) of `oriented`
        .filter(b_first)
        .select("_s", F.col("_b").alias("_w1"), F.col("_c").alias("_w2"))
    )
    tri = wedges.join(
        oriented.select(
            F.col("_s").alias("_w1"), F.col("_t").alias("_w2")
        ),
        ["_w1", "_w2"],
        "left_semi",
    ).localCheckpoint(eager=True)
    per_node = (
        tri.select(F.col("_s").alias("node"))
        .unionByName(tri.select(F.col("_w1").alias("node")))
        .unionByName(tri.select(F.col("_w2").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("_t"))
    )
    return deg.join(per_node, "node", "left").select(
        "node",
        F.coalesce(F.col("_t"), F.lit(0)).cast("bigint").alias("triangles"),
    )


def k_hop_reachability(
    edges: DataFrame,
    seeds: DataFrame,
    k: int,
    src_col: str = "src",
    dst_col: str = "dst",
    seed_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Minimum-hop distance from a seed SET to every node within ``k``
    hops — frontier-pruned BFS as relational algebra (the
    neighborhood-expansion pass of link curation: "everything within 3
    hops of the flagged documents").

    Proper BFS, not naive path expansion: each round joins only the
    CURRENT FRONTIER to the edge relation and anti-joins the visited set,
    so a node is expanded exactly once at its minimum hop and the work
    per round is |frontier ⋈ edges|, never the number of paths (which is
    exponential). Rounds are lineage-truncated with local checkpoints
    (the ``connected_components`` discipline) so the plan does not
    deepen with ``k``.

    100 TB shape: per round one hash-uniform equi-join on the frontier
    keys + one anti-join against visited (both node-id keyed); visited
    state is one row per reached node, distributed. ``k`` is a hard
    bound, so the loop terminates in ``k`` rounds or earlier when a
    frontier empties. The visited set is the UNION of the per-round
    checkpointed frontier layers — never re-checkpointed per round —
    and the frontier's emptiness probe is the ``count`` that
    materializes its lazy checkpoint, so each round costs exactly ONE
    driver-blocking action (an eager checkpoint + ``isEmpty`` +
    visited-checkpoint spelling pays three scheduler round-trips per hop
    for the same shuffled bytes).

    Returns ``(node, hop)`` with ``hop`` = min distance (seeds at 0).
    """
    if k < 0:
        raise ValueError(f"k must be >= 0, got {k}")
    fwd = edges.select(
        F.col(src_col).alias("_from"), F.col(dst_col).alias("_to")
    )
    adj = fwd if directed else fwd.unionByName(
        fwd.select(F.col("_to").alias("_from"), F.col("_from").alias("_to"))
    )
    adj = (
        adj.filter(F.col("_from") != F.col("_to"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    seed_layer = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("hop"))
        .localCheckpoint(eager=True)
    )
    layers = [seed_layer]
    frontier = seed_layer.select("node")
    for h in range(1, k + 1):
        visited_nodes = layers[0].select("node")
        for layer in layers[1:]:
            visited_nodes = visited_nodes.unionByName(layer.select("node"))
        # eager=False: the emptiness count below is the action that
        # materializes the checkpoint — one job per round, not three
        nxt = (
            frontier.join(adj, frontier["node"] == adj["_from"])
            .select(F.col("_to").alias("node"))
            .distinct()
            .join(visited_nodes, "node", "left_anti")
            .select("node", F.lit(h).cast("bigint").alias("hop"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break
        layers.append(nxt)
        frontier = nxt.select("node")
        if len(layers) >= _LAYER_COMPACT_EVERY:
            # fold the accumulated (disjoint) layers into ONE lazily
            # checkpointed relation — plain union, no shuffle; the next
            # round's emptiness count (or the final action) materializes
            # it, so the per-round plan stays bounded in deep traversals
            acc = layers[0]
            for layer in layers[1:]:
                acc = acc.unionByName(layer)
            layers = [acc.localCheckpoint(eager=False)]
    visited = layers[0]
    for layer in layers[1:]:
        visited = visited.unionByName(layer)
    return visited


def weighted_sssp(
    edges: DataFrame,
    seeds: DataFrame,
    max_hops: int,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str = "weight",
    seed_col: str = "node",
    directed: bool = False,
) -> DataFrame:
    """Weighted single-source(-set) shortest paths, bounded to paths of
    at most ``max_hops`` edges — Bellman–Ford relaxation rounds with
    FRONTIER pruning (the :func:`k_hop_reachability` shape generalized
    to weighted edges), the citation-distance weighting pass of link
    curation.

    Semantics: ``dist(n)`` = minimum total edge weight over paths from
    the seed set to ``n`` using ≤ ``max_hops`` edges (seeds at 0) —
    exactly round-``max_hops`` Bellman–Ford. Frontier pruning preserves
    this: a node whose distance did not improve in round ``i`` can
    contribute nothing new in round ``i+1`` (its previous relaxations
    already propagated), so each round relaxes only the IMPROVED set and
    the loop exits early once a round improves nothing. With
    non-negative weights and ``max_hops`` ≥ |V|−1 this is the exact
    shortest-path relation; the hop bound keeps the oracle unrollable
    and the round count deterministic. Work in integer weights (cents,
    ms) and distances stay exact int64 sums.

    100 TB shape: per round ONE hash-uniform equi-join of the frontier
    against the edge relation (node-id keyed) + a partial-combined
    min per destination + one view-sized left join against the distance
    state to keep genuine improvements; rounds are lineage-truncated
    with local checkpoints (the ``connected_components`` discipline) so
    the plan never deepens with the round count. Work per round is
    ∝ |frontier ⋈ edges|, never path counts. The distance state is the
    per-node MIN over the checkpointed improvement layers (improvements
    per node strictly decrease, so min = latest) — rebuilt lazily per
    round instead of re-checkpointed, and the improvement set's
    emptiness probe is the ``count`` that materializes its lazy
    checkpoint: each round costs exactly ONE driver-blocking action
    (not three: eager checkpoint + ``isEmpty`` + state checkpoint, for
    the same shuffled bytes).

    Returns ``(node, dist)`` for every node reachable within
    ``max_hops`` edges (seeds included at 0).
    """
    if max_hops < 0:
        raise ValueError(f"max_hops must be >= 0, got {max_hops}")
    fwd = edges.select(
        F.col(src_col).alias("_from"),
        F.col(dst_col).alias("_to"),
        F.col(weight_col).alias("_w"),
    )
    adj = fwd if directed else fwd.unionByName(
        fwd.select(
            F.col("_to").alias("_from"),
            F.col("_from").alias("_to"),
            F.col("_w"),
        )
    )
    # parallel edges keep only the lightest; self-loops never improve
    adj = (
        adj.filter(F.col("_from") != F.col("_to"))
        .groupBy("_from", "_to")
        .agg(F.min("_w").alias("_w"))
        .localCheckpoint(eager=True)
    )
    seed_layer = (
        seeds.select(F.col(seed_col).alias("node"))
        .distinct()
        .select("node", F.lit(0).cast("bigint").alias("dist"))
        .localCheckpoint(eager=True)
    )
    layers = [seed_layer]
    frontier = seed_layer

    def _dist_view() -> DataFrame:
        acc = layers[0]
        for layer in layers[1:]:
            acc = acc.unionByName(layer)
        return acc.groupBy("node").agg(F.min("dist").alias("dist"))

    for _ in range(max_hops):
        cand = (
            frontier.join(adj, frontier["node"] == adj["_from"])
            .select(
                F.col("_to").alias("node"),
                (F.col("dist") + F.col("_w")).cast("bigint").alias("_nd"),
            )
            .groupBy("node")
            .agg(F.min("_nd").alias("_nd"))
        )
        # eager=False: the emptiness count below materializes the
        # checkpoint — one job per round, not three
        improved = (
            cand.join(_dist_view(), "node", "left")
            .filter(F.col("dist").isNull() | (F.col("_nd") < F.col("dist")))
            .select("node", F.col("_nd").alias("dist"))
            .localCheckpoint(eager=False)
        )
        if improved.count() == 0:
            break
        layers.append(improved)
        frontier = improved
        if len(layers) >= _LAYER_COMPACT_EVERY:
            # fold the accumulated improvement layers into ONE lazily
            # checkpointed per-node-min relation (exactly the view every
            # round already computes); materialized by the next round's
            # emptiness count, so deep relaxations keep both the plan
            # depth and the unioned row count bounded at O(V)
            layers = [_dist_view().localCheckpoint(eager=False)]
    return _dist_view()
