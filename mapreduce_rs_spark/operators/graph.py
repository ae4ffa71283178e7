"""Iterative graph algorithms over candidate-pair edges.

The one operator family where a driver-side loop is the RIGHT Spark
shape: iterative label propagation (Pregel-style) runs a bounded number
of DataFrame jobs, each fully distributed — the driver holds only the
convergence counter, never data. This is the missing piece between
pair GENERATION (MinHash-LSH / SimHash banding, operators/dedup.py) and
actual DEDUP DECISIONS: near-duplicate pairs form clusters (A~B, B~C ⇒
{A,B,C} even when A,C never co-banded), and the canonical-document
choice must be made per CLUSTER, not per pair.

Reference parity note: the reference has no iterative operators at all
(single map→reduce pass, ``src/mr/coordinator.rs:342-345``); this is
blueprint surface for the LLM-pipeline north star.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import h32
from mapreduce_rs_spark.operators.dedup import minhash_lsh_pairs
from mapreduce_rs_spark.operators.materialize import materialize


def order_baskets(li: DataFrame) -> DataFrame:
    """(l_orderkey, ps): each order's SORTED DISTINCT part set in one
    exchange (collect_set is map-side combined) — the shared basket
    aggregate behind every co-purchase pair/triple/edge generator
    (this module's ``_copurchase_edges``, ``relational.
    copurchase_pairs``, ``relational.frequent_triples``)."""
    return (
        li.select("l_orderkey", "l_partkey")
        .groupBy("l_orderkey")
        .agg(F.sort_array(F.collect_set("l_partkey")).alias("ps"))
    )


def _copurchase_edges(li: DataFrame, min_orders: int) -> DataFrame:
    """Undirected co-purchase candidate edges (u < v, both long) with
    their distinct-order support — the ONE edge-build definition shared
    by every graph operator on this grain (triangles, k-core, BFS,
    link prediction, LPA, Bellman-Ford; previously six hand-copies of
    a distinct + self-equi-join).

    Shuffle shape (the round-5 rewrite): one exchange on l_orderkey
    (the collect_set aggregate, map-side combined) + a NARROW per-order
    pair expansion + the (u, v) support aggregate — the former
    distinct + self-join form shuffled the order-part projection two
    extra times (the distinct, then each join side). Outputs are
    identical — per-order u<v pair sets and distinct-order counts are
    the same numbers (proven by an A/B collect at sf0.1; the oracles
    still state the reference semantics as the self-join, and every
    graph query hash-matches them). Per-order pair volume is
    |parts|²/2 — exactly the co-group² the join emitted — bounded by
    order width (TPC-H orders carry <= 7 lines; a pathological
    mega-order would hotspot the join form identically and needs
    upstream capping either way).

    Pair expansion is a chained posexplode (two codegen'd Generate
    operators), not a nested transform/flatten HOF: interpreted
    higher-order functions run the closure per element with no
    whole-stage codegen, which measured 2x slower over the identical
    12M-pair multiset at sf1.0 (4.3-8.1 s HOF vs 2.1-3.7 s Generate —
    the round-6 twin of the r05 no-HOF-CSE lesson)."""
    parts = order_baskets(li)
    expanded = parts.select(
        F.col("ps"), F.posexplode("ps").alias("i", "u")
    ).select(
        F.col("u").cast("long").alias("u"),
        F.explode(F.expr("slice(ps, i + 2, size(ps))")).alias("v_raw"),
    )
    return (
        expanded.select("u", F.col("v_raw").cast("long").alias("v"))
        .groupBy("u", "v")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .where(F.col("n_orders") >= min_orders)
    )


# Iteration cap shared with the oracle-side unrolled closure
# (registry._cc_comp_ctes): both sides compute the same capped
# min-label fixpoint, so neither can out-iterate the other.
CC_MAX_ITER = 20


def connected_components(edges: DataFrame, max_iter: int = CC_MAX_ITER) -> DataFrame:
    """Connected components by min-label propagation.

    ``edges`` has columns (doc_a, doc_b). Each node starts labeled with
    its own id; every iteration each node takes the min of its label
    and its neighbors' labels; convergence when no label changes. The
    component id is therefore the MIN node id in the component —
    deterministic, oracle-reproducible (the oracle computes the same
    fixpoint as a recursive-CTE transitive closure).

    Scale shape: each iteration is one join + one aggregate, both on
    the edge list — O(E) shuffle per round, O(diameter) rounds.
    Near-dup clusters have tiny diameters (dense clique-ish blocks), so
    this converges in a handful of rounds; materializing per round
    truncates the otherwise-exponentially-growing lineage, which is
    what makes iterative DataFrame loops viable at all. (GraphX /
    GraphFrames uses the same alternating large-star/small-star trick
    for worst-case graphs; min-propagation is the right tool for
    bounded-diameter dedup clusters.) Each round's labels go through
    ``materialize`` (operators/materialize.py), so a cluster run with a
    checkpoint directory keeps them executor-loss-safe.

    Returns (doc_id, component) for every node that appears in an edge.
    """
    if max_iter > CC_MAX_ITER:
        # The DuckDB oracle unrolls exactly CC_MAX_ITER min-label
        # rounds (registry._cc_comp_ctes): a larger Spark cap could
        # converge where the capped unroll under-merges — a silent
        # engine desync (r10 ADVICE #4). Smaller caps are safe (this
        # side RAISES on non-convergence; extra oracle rounds past the
        # fixpoint are no-ops). Need more rounds? Raise the shared
        # constant — both sides derive from it.
        raise ValueError(
            f"max_iter={max_iter} exceeds CC_MAX_ITER={CC_MAX_ITER}; "
            "raise the shared constant instead of overriding per-call"
        )
    converged = False
    nodes = (
        edges.select(F.col("doc_a").alias("doc_id"))
        .union(edges.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # Undirected adjacency, both directions.
    nbrs = materialize(
        edges.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .union(edges.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst"))),
    )
    labels = materialize(nodes.select("doc_id", F.col("doc_id").alias("component")))
    for _ in range(max_iter):
        nbr_min = (
            nbrs.join(labels, nbrs.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component").alias("nbr_component"))
        )
        new_labels = materialize(
            labels.join(nbr_min, labels.doc_id == nbr_min.src, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component"),
                    F.coalesce(F.col("nbr_component"), F.col("component")),
                ).alias("component"),
            ),
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .where(F.col("n.component") != F.col("o.component"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # Silent wrong answers are worse than loud failures: unconverged
        # labels under-merge clusters. Raise rather than return them —
        # callers with genuinely long-diameter graphs raise max_iter (or
        # switch to large-star/small-star, which converges in O(log n)).
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} iterations; "
            "increase max_iter for long-chain graphs"
        )
    return labels


# Fixed-point scale for pagerank: rank 1.0 == 10^12. Chosen so that
# (a) per-node ranks (< 1 by construction after the first update) carry
# 12 significant fractional digits, and (b) every intermediate stays
# exactly representable: rank_fp * weight is computed in DECIMAL(38,0)
# (Spark) / HUGEINT (oracle), then floor-divided back under 10^12.
PAGERANK_SCALE = 10**12


def pagerank(
    edges: DataFrame, iterations: int = 5, damping_pct: int = 85
) -> DataFrame:
    """Weighted PageRank with a FIXED iteration count, in fixed-point
    integer arithmetic.

    ``edges`` has columns (src, dst, weight: integral > 0). Every node
    is expected to have at least one out-edge (feed an undirected /
    symmetrized edge list, as ``pagerank_trade_flows`` does — that
    guarantees no dangling mass by construction; this function raises
    if a sink node is detected rather than silently leaking rank).

    Why fixed-point: the iteration is sums of ``rank * w / out_w``
    terms, and floating-point sums are partition-order-dependent — the
    exact class of cross-engine hazard this repo's decimal-money rule
    exists for (BASELINE.md). Here the quantities aren't 2-decimal
    money, so instead the algorithm itself is DEFINED over integers:
    rank is a BIGINT in units of 1e-12 (``PAGERANK_SCALE``), each edge
    contribution is ``(rank_fp * w) div out_w`` with the product in
    DECIMAL(38,0) so nothing overflows at any realistic weight, and the
    damping update is ``((100-d)*SCALE) div (100*N) + (d*inflow) div
    100``. Integer sums are exactly associative, so the result is
    bit-identical on any partitioning and any engine — the DuckDB
    oracle unrolls the same recurrence with HUGEINT ``//``. (Quotients
    are <= SCALE so the BIGINT result of Spark's decimal ``div`` never
    overflows; only the transient product needs 38 digits.)

    Scale shape: building the edge list is the data-sized job (the
    caller's aggregation); the iteration loop is K jobs of one
    broadcast-join + one integer groupBy each over the AGGREGATED graph
    — O(E) per round with no float state. The driver holds only the
    loop counter. The reference has no iterative operators at all
    (single map->reduce pass, ``src/mr/coordinator.rs:342-345``).

    Returns (node, rank_fp: bigint, rank: double) — ``rank`` is the
    presentation-only scalar ``rank_fp / 1e12``.
    """
    if not 0 < damping_pct < 100:
        raise ValueError(f"damping_pct must be in (0,100), got {damping_pct}")
    edges = materialize(
        edges.select(F.col("src"), F.col("dst"), F.col("weight").cast("long"))
    )

    out_w = edges.groupBy("src").agg(F.sum("weight").alias("out_w"))
    nodes = (
        edges.select(F.col("src").alias("node"))
        .union(edges.select(F.col("dst").alias("node")))
        .distinct()
    )
    n_nodes = nodes.count()
    n_sinks = nodes.join(out_w, nodes.node == out_w.src, "left_anti").count()
    if n_sinks:
        raise ValueError(
            f"pagerank requires every node to have an out-edge; {n_sinks} "
            "sink node(s) found — symmetrize the edge list or add self-loops"
        )

    # Edge table annotated with its source's total out-weight, reused
    # every iteration (checkpoint: computed once, lineage truncated).
    graph = materialize(edges.join(out_w, "src"))

    base_fp = ((100 - damping_pct) * PAGERANK_SCALE) // (100 * n_nodes)
    init_fp = PAGERANK_SCALE // n_nodes
    ranks = nodes.select("node", F.lit(init_fp).cast("long").alias("rank_fp"))

    for _ in range(iterations):
        inflow = (
            graph.join(
                F.broadcast(ranks.withColumnRenamed("node", "src")), "src"
            )
            .select(
                F.col("dst"),
                (
                    F.col("rank_fp").cast("decimal(38,0)") * F.col("weight")
                ).alias("scaled"),
                F.col("out_w"),
            )
            .select("dst", F.expr("scaled div out_w").alias("contrib"))
            .groupBy("dst")
            .agg(F.sum("contrib").alias("inflow_fp"))
        )
        ranks = materialize(
            nodes.join(inflow, nodes.node == inflow.dst, "left").select(
                "node",
                (
                    F.lit(base_fp)
                    + F.expr(
                        f"({damping_pct} * coalesce(inflow_fp, 0L)) div 100"
                    )
                ).cast("long")
                .alias("rank_fp"),
            )
        )
    return ranks.select(
        "node",
        "rank_fp",
        (F.col("rank_fp") / F.lit(float(PAGERANK_SCALE))).alias("rank"),
    )


def pagerank_trade_flows(tables: dict[str, DataFrame]) -> DataFrame:
    """PageRank centrality of nations in the trade network.

    Edge building is the data-sized half (this is where 100 TB lives):
    lineitem->orders->customer gives the buying nation, lineitem->
    supplier the selling nation; the fact table never shuffles wide —
    customer/supplier/nation are broadcast and the only exchange is the
    (25 x 25)-key count aggregation. The directed flow counts are then
    symmetrized (w(a,b) = d(a,b) + d(b,a), self-loops kept) so every
    node has out-edges — the no-dangling-mass precondition ``pagerank``
    enforces — and 5 fixed-point iterations run on the aggregated graph.

    Returns (n_name, rank_fp, rank) — integer fixed-point rank plus its
    double presentation form.
    """
    li, o = tables["lineitem"], tables["orders"]
    c, s, n = tables["customer"], tables["supplier"], tables["nation"]
    flows = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy(
            c.c_nationkey.alias("a"), s.s_nationkey.alias("b")
        )
        .agg(F.count("*").alias("w"))
    )
    edges = (
        flows.select(F.col("a").alias("src"), F.col("b").alias("dst"), "w")
        .union(flows.select(F.col("b").alias("src"), F.col("a").alias("dst"), "w"))
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("weight"))
    )
    ranks = pagerank(edges, iterations=5, damping_pct=85)
    return ranks.join(
        F.broadcast(n), ranks.node == n.n_nationkey
    ).select("n_name", "rank_fp", "rank")


def triangle_counts(
    tables: dict[str, DataFrame],
    min_orders: int = 2,
) -> DataFrame:
    """Per-node triangle counts over the co-purchase graph, by
    degree-ordered wedge join — the scale-correct triangle algorithm.

    Graph: nodes are parts; an undirected edge (u,v) exists when the
    pair was bought together in >= ``min_orders`` distinct orders (the
    same candidate-edge grain as ``relational.copurchase_pairs``).
    Building the edge list is the data-sized half: the shared
    ``_copurchase_edges`` builder (one l_orderkey exchange + narrow
    per-order pair expansion).

    The naive triangle join (edges ⋈ edges ⋈ edges) explodes on hubs:
    a degree-d node generates d² wedges. The standard fix (Schank &
    Wagner's forward algorithm / "rank ordering") orients every edge
    from the LOWER endpoint to the HIGHER under the total order
    (degree, id). Every node's OUT-degree is then O(sqrt(E)) for any
    graph, so the wedge join generates at most O(E^1.5) candidates —
    the best possible bound, hub-proof — and each triangle is found
    exactly once, at its minimum-rank apex. Three bounded equi-joins,
    no driver-side state; the edge table is materialized once and
    reused (operators/materialize.py).

    The oracle recomputes the same triangle set from the simpler
    id-ordered 3-way self-join (fine at oracle scale) — agreement
    proves the orientation trick changes the plan, not the answer.

    Returns (partkey, n_triangles) for every part in >= 1 triangle.
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select("u", "v"),
    )
    deg = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    annotated = (
        edges.join(
            deg.select(F.col("node").alias("u"), F.col("deg").alias("deg_u")), "u"
        ).join(
            deg.select(F.col("node").alias("v"), F.col("deg").alias("deg_v")), "v"
        )
    )
    u_first = (F.col("deg_u") < F.col("deg_v")) | (
        (F.col("deg_u") == F.col("deg_v")) & (F.col("u") < F.col("v"))
    )
    # Oriented edge low->high under (deg, id); carry the destination's
    # rank key so the wedge join can order its two spokes.
    oriented = materialize(
        annotated.select(
            F.when(u_first, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(u_first, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(u_first, F.col("deg_v")).otherwise(F.col("deg_u")).alias("dst_deg"),
        ),
    )
    o1, o2, o3 = oriented.alias("o1"), oriented.alias("o2"), oriented.alias("o3")
    wedges = o1.join(
        o2,
        (F.col("o1.src") == F.col("o2.src"))
        & (
            (F.col("o1.dst_deg") < F.col("o2.dst_deg"))
            | (
                (F.col("o1.dst_deg") == F.col("o2.dst_deg"))
                & (F.col("o1.dst") < F.col("o2.dst"))
            )
        ),
    ).select(
        F.col("o1.src").alias("apex"),
        F.col("o1.dst").alias("v"),
        F.col("o2.dst").alias("w"),
    )
    triangles = wedges.join(
        o3, (F.col("v") == F.col("o3.src")) & (F.col("w") == F.col("o3.dst"))
    ).select("apex", "v", "w")
    roles = (
        triangles.select(F.col("apex").alias("partkey"))
        .union(triangles.select(F.col("v").alias("partkey")))
        .union(triangles.select(F.col("w").alias("partkey")))
    )
    return roles.groupBy("partkey").agg(F.count("*").alias("n_triangles"))


def dedup_components(df: DataFrame) -> DataFrame:
    """Near-duplicate CLUSTERS from MinHash-LSH candidate pairs:
    transitive closure over the pair graph, then per-doc component
    assignment (component id = min doc_id in the cluster — the doc an
    exact-dedup pass would keep). Only documents that have at least one
    near-duplicate appear; singletons are implicitly their own
    component. The end-to-end shape of a production near-dup pass:
    sign → band → pair → cluster → keep-min."""
    edges = minhash_lsh_pairs(df).select("doc_a", "doc_b")
    return connected_components(edges)


def kcore_decomposition(
    tables: dict[str, DataFrame],
    k: int = 3,
    rounds: int = 14,
    min_orders: int = 2,
) -> DataFrame:
    """k-core of the co-purchase graph: the maximal subgraph where every
    node keeps degree >= k — the standard dense-community extractor
    (recommendation cores, spam rings, influence backbones). Same node/
    edge grain as ``triangle_counts``.

    Algorithm: iterative peeling. Each round computes degrees over the
    SURVIVING edge set and drops nodes below k; removing a node can
    push neighbors below k, hence the iteration. Peeling reaches the
    (unique) k-core fixed point; ``rounds`` bounds the unrolling and a
    LOUD assert verifies convergence (one extra degree pass: every
    remaining node >= k), so an under-unrolled run fails rather than
    returning a superset. Per round: one dictionary-sized degree
    aggregate + two semi-joins — edges are materialized each round so
    lineage stays flat (the pagerank/BPE iterative discipline).

    The oracle unrolls the same ``rounds`` as chained CTEs; extra
    rounds after the fixed point are no-ops on BOTH sides, so the fixed
    unroll count is safe.

    Returns (partkey, core_degree) for k-core members.
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select("u", "v"),
    )

    def degrees(e: DataFrame) -> DataFrame:
        return (
            e.select(F.col("u").alias("node"))
            .union(e.select(F.col("v").alias("node")))
            .groupBy("node")
            .agg(F.count("*").alias("deg"))
        )

    n_edges = edges.count()
    for _ in range(rounds):
        keep = degrees(edges).where(F.col("deg") >= k).select("node")
        # No broadcast hint: the survivor set is node-scale (could be
        # billions at 100 TB) — plain semi-joins let AQE broadcast only
        # when the set actually shrinks below the threshold.
        edges = materialize(
            edges.join(
                keep.select(F.col("node").alias("u")), "u", "left_semi"
            ).join(
                keep.select(F.col("node").alias("v")), "v", "left_semi"
            ).select("u", "v"),
        )
        n_after = edges.count()
        if n_after == n_edges:
            # Fixed point: the oracle's remaining unrolled rounds are
            # no-ops, so early exit cannot diverge from it.
            break
        n_edges = n_after
    final = degrees(edges)
    below = final.where(F.col("deg") < k).count()
    if below:
        raise AssertionError(
            f"k-core peeling did not converge in {rounds} rounds "
            f"({below} nodes still below k={k}) — raise rounds"
        )
    return final.select("node", F.col("deg").alias("core_degree")).withColumnsRenamed(
        {"node": "partkey"}
    )


def bfs_hops(
    tables: dict[str, DataFrame],
    n_seeds: int = 4,
    max_hops: int = 4,
    min_orders: int = 2,
) -> DataFrame:
    """Multi-source BFS over the co-purchase graph (same node/edge grain
    as kcore_decomposition / triangle_counts): shortest hop distance
    from a seed set to every reachable node within ``max_hops`` — the
    path-search member of the graph family (reachability, influence
    radius, "products within two recommendation hops").

    Seeds are the ``n_seeds`` nodes with the smallest portable hash
    h32(node) — the KMV bounded-sample discipline (_query_set
    precedent), so the seed set is deterministic, engine-portable, and
    O(n_seeds) regardless of graph size.

    Algorithm: frontier expansion with min-hop labels. Round r joins the
    round-(r-1) FRONTIER (nodes first reached at r-1, i.e. min-hop =
    r-1 — each node expands exactly once) against the bidirectional
    edge list and min-merges into the label table, which is
    materialized per round so lineage stays flat. Early exit on an empty
    frontier cannot diverge from the oracle: its remaining unrolled
    rounds are no-ops. Per round: one edge-sized equi-join + one
    label-sized min aggregate — the Pregel shape, never all-pairs.

    Returns (partkey, hop) for every node within max_hops of a seed.
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select("u", "v"),
    )
    bi = edges.select(F.col("u").alias("src"), F.col("v").alias("dst")).union(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    )
    seeds = (
        bi.select(F.col("src").alias("node"))
        .distinct()
        .orderBy(h32(F.col("node").cast("string")), "node")
        .limit(n_seeds)
    )
    labels = seeds.select("node", F.lit(0).alias("hop"))
    for r in range(1, max_hops + 1):
        frontier = labels.where(F.col("hop") == r - 1).select("node")
        if frontier.isEmpty():
            break
        nxt = frontier.join(bi, frontier.node == bi.src).select(
            F.col("dst").alias("node"), F.lit(r).alias("hop")
        )
        labels = materialize(
            labels.union(nxt).groupBy("node").agg(F.min("hop").alias("hop")),
        )
    return labels.select(
        F.col("node").alias("partkey"), F.col("hop").cast("int").alias("hop")
    )


LINK_HUB_CAP = 64
AA_SCALE = 1_000_000  # Adamic-Adar terms quantized to integer micro-units


def link_prediction_scores(
    tables: dict[str, DataFrame],
    min_orders: int = 2,
    hub_cap: int = LINK_HUB_CAP,
    min_common: int = 2,
) -> DataFrame:
    """Link prediction over the co-purchase graph: score NON-adjacent
    part pairs by common-neighbor evidence — the candidate generator
    behind "customers who bought X also bought Y" recommendations.

    Per non-edge pair (a, b) sharing >= ``min_common`` neighbors:
    common-neighbor count, Jaccard of neighborhoods, and Adamic-Adar
    (Σ_z 1/ln(deg z) — hubs discounted). Pairs are generated by the
    wedge join adj⋈adj ON the shared neighbor — an equi-join, never
    all-pairs — and wedges through super-hubs (deg > ``hub_cap``) are
    SKIPPED: a degree-d hub alone fans out d² candidate pairs, and its
    1/ln(d) term is the evidence equivalent of a stopword. That cap is
    what bounds the candidate volume at 100 TB (Σ_{deg≤cap} d² ≤
    cap·Σd = cap·2E — linear in edges), the same principle as the
    rarest-K blocking in entity_match_customers.

    Float discipline: Adamic-Adar terms are quantized to integer
    micro-units (floor(1e6 / ln deg)) BEFORE summing — exact-integer
    accumulation, order-invariant (the dsir/surprisal centinat
    pattern); ``jaccard`` is ONE division of exact integers.

    The edge list is the ``triangle_counts`` grain (co-purchased in >=
    ``min_orders`` distinct orders), materialized once and reused by
    adjacency, degrees, and the anti-join.

    Returns (part_a, part_b, cn, deg_a, deg_b, jaccard, aa_micro).
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select("u", "v"),
    )
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    deg = materialize(adj.groupBy("node").agg(F.count("*").cast("long").alias("deg")))
    # Wedges through capped-degree shared neighbors. A common neighbor
    # is adjacent to both endpoints, so deg_z >= 2 and ln(deg_z) > 0.
    adj_z = adj.join(deg, "node").where(F.col("deg") <= hub_cap)
    a1, a2 = adj_z.alias("a1"), adj_z.alias("a2")
    wedges = a1.join(
        a2,
        (F.col("a1.node") == F.col("a2.node"))
        & (F.col("a1.nbr") < F.col("a2.nbr")),
    ).select(
        F.col("a1.nbr").alias("x"),
        F.col("a2.nbr").alias("y"),
        F.col("a1.deg").alias("deg_z"),
    )
    cand = (
        wedges.groupBy("x", "y")
        .agg(
            F.count("*").cast("long").alias("cn"),
            F.sum(
                F.floor(F.lit(float(AA_SCALE)) / F.log(F.col("deg_z").cast("double")))
            )
            .cast("long")
            .alias("aa_micro"),
        )
        .where(F.col("cn") >= min_common)
    )
    new_pairs = cand.join(
        edges,
        (F.col("x") == F.col("u")) & (F.col("y") == F.col("v")),
        "left_anti",
    )
    return (
        new_pairs.join(
            deg.select(F.col("node").alias("x"), F.col("deg").alias("deg_a")), "x"
        )
        .join(
            deg.select(F.col("node").alias("y"), F.col("deg").alias("deg_b")), "y"
        )
        .select(
            F.col("x").alias("part_a"),
            F.col("y").alias("part_b"),
            "cn",
            "deg_a",
            "deg_b",
            (
                F.col("cn").cast("double")
                / (F.col("deg_a") + F.col("deg_b") - F.col("cn"))
            ).alias("jaccard"),
            "aa_micro",
        )
    )


LPA_ROUNDS = 3


def label_propagation_communities(
    tables: dict[str, DataFrame],
    rounds: int = LPA_ROUNDS,
    min_orders: int = 2,
) -> DataFrame:
    """Community detection by synchronous label propagation over the
    co-purchase graph (same node/edge grain as ``triangle_counts`` /
    ``kcore_decomposition``) — the near-linear community extractor
    (Raghavan et al.) behind catalog clustering and fraud-ring
    discovery.

    Every node starts labeled with its own id; each round it adopts
    the MOST FREQUENT label among its neighbors, ties broken by the
    SMALLEST label — that tie-break makes classic LPA (whose textbook
    form breaks ties randomly) fully deterministic and thus
    oracle-checkable. ``rounds`` is a fixed bound, not a convergence
    test: synchronous LPA can oscillate on bipartite structures, so
    both engines run the IDENTICAL round count and the result is the
    round-``rounds`` snapshot (the oracle unrolls the same rounds as
    chained CTEs — the pagerank/kcore discipline).

    Per round: one neighbor-label count aggregate (linear in edges,
    the only data-scale shuffle) + a per-node argmax window; labels are
    materialized each round so lineage stays flat.

    Returns (partkey, community).
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select("u", "v"),
    )
    adj = edges.select(F.col("u").alias("node"), F.col("v").alias("nbr")).union(
        edges.select(F.col("v").alias("node"), F.col("u").alias("nbr"))
    )
    labels = materialize(
        adj.select("node").distinct().select("node", F.col("node").alias("lbl")),
    )
    from pyspark.sql import Window

    for _ in range(rounds):
        counts = (
            adj.join(
                labels.select(F.col("node").alias("nbr"), "lbl"), "nbr"
            )
            .groupBy("node", "lbl")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        rk = Window.partitionBy("node").orderBy(
            F.col("c").desc(), F.col("lbl").asc()
        )
        labels = materialize(
            counts.withColumn("rk", F.row_number().over(rk))
            .where(F.col("rk") == 1)
            .select("node", "lbl"),
        )
    return labels.select(
        F.col("node").alias("partkey"), F.col("lbl").alias("community")
    )


def weighted_shortest_paths(
    tables: dict[str, DataFrame],
    n_seeds: int = 4,
    max_rounds: int = 4,
    min_orders: int = 2,
) -> DataFrame:
    """Bounded-round Bellman-Ford over the co-purchase graph — the
    weighted companion of bfs_hops (hop counts → path COSTS): cheapest
    route from the KMV seed set using at most ``max_rounds`` edges.
    Edge cost is pure integer, derived from co-purchase strength
    (cost = 100 div n_orders + 1 — frequently-co-bought parts are
    cheap to traverse), so distances are exact integers: no float
    accumulates along a path and the result is partition/engine-
    invariant by construction.

    Delta-relaxation: each round joins only the FRONTIER (nodes whose
    distance improved last round) against the edge list and min-merges
    into the distance table — the Pregel shape; a round with no
    improvements ends the loop early, and the oracle's remaining
    unrolled rounds are no-ops. After r rounds the table holds the
    exact min-cost path using <= r edges (the delta and full
    relaxations agree round by round), so the bounded-round semantics
    are well-defined whether or not the graph has converged. Labels
    are materialized per round to keep lineage flat.

    Returns (partkey, dist) for every node reachable from a seed
    within max_rounds edges.
    """
    edges = materialize(
        _copurchase_edges(tables["lineitem"], min_orders).select(
            "u", "v", F.expr("100 div n_orders + 1").cast("long").alias("cost")
        ),
    )
    bi = edges.select(
        F.col("u").alias("src"), F.col("v").alias("dst"), "cost"
    ).union(edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), "cost"))
    seeds = (
        bi.select(F.col("src").alias("node"))
        .distinct()
        .orderBy(h32(F.col("node").cast("string")), "node")
        .limit(n_seeds)
    )
    # Frontier emptiness rides each round's OWN materialization job via
    # observe() (r12 verdict #4, guide §2.4 "remove jobs outright"):
    # materialize() runs an action, so the metric is collected by
    # the same tasks that materialize the round state — where the old
    # per-round `frontier.isEmpty()` paid one extra checkpoint-scan job
    # per round (+1 for the seed probe). Rows are untouched
    # (CollectMetrics is a pass-through node); the loop decision is
    # identical: sum(improved) == 0  <=>  frontier.isEmpty().
    obs0 = Observation()
    labels = materialize(
        seeds.select("node", F.lit(0).cast("long").alias("dist")).observe(
            obs0, F.count(F.lit(1)).alias("n_improved")
        ),
    )
    frontier = labels
    frontier_n = obs0.get["n_improved"] or 0
    for _ in range(max_rounds):
        if frontier_n == 0:
            break
        relaxed = frontier.join(bi, frontier.node == bi.src).select(
            F.col("dst").alias("node"),
            (frontier.dist + F.col("cost")).alias("dist"),
        )
        merged = labels.union(relaxed).groupBy("node").agg(
            F.min("dist").alias("dist")
        )
        # ONE materialization per round carrying both products: the new
        # distance table AND the improved flag (new node or strictly
        # smaller distance) that defines next round's frontier. The
        # round state is read >= 2x (labels by the next merge, frontier
        # by the isEmpty probe and the next relaxation join), and a
        # separate frontier checkpoint would pay a second job per round
        # for a subset of the same rows (measured on the bench entry).
        prev = labels.select(
            F.col("node").alias("p_node"), F.col("dist").alias("p_dist")
        )
        obs = Observation()
        state = materialize(
            merged.join(prev, merged.node == F.col("p_node"), "left")
            .select(
                "node",
                "dist",
                (
                    F.col("p_dist").isNull() | (F.col("dist") < F.col("p_dist"))
                ).alias("improved"),
            )
            .observe(obs, F.sum(F.col("improved").cast("long")).alias("n_improved")),
        )
        frontier = state.where("improved").select("node", "dist")
        labels = state.select("node", "dist")
        frontier_n = obs.get["n_improved"] or 0
    return labels.select(
        F.col("node").alias("partkey"), F.col("dist").cast("long").alias("dist")
    )
