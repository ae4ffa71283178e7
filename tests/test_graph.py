"""Iterative connected components (graph.py) + new round-2 operators."""

from __future__ import annotations

import math

import pytest

from mapreduce_rs_spark.operators.graph import connected_components, dedup_components
from mapreduce_rs_spark.sources.catalog import load_table


def test_components_hand_graph(spark):
    # Two components: {1,2,3,4} chained (transitivity required: 1-2,
    # 2-3, 3-4 — 1 and 4 never share an edge) and {10, 11}.
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_components_raise_when_iteration_budget_too_small(spark):
    # Unconverged labels under-merge clusters; the operator must fail
    # loudly, never return a partial fixpoint.
    edges = spark.createDataFrame([(i, i + 1) for i in range(12)], ["doc_a", "doc_b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_iter=2)


def test_components_reject_cap_above_oracle_unroll(spark):
    # r10 ADVICE #4: the DuckDB oracle unrolls exactly CC_MAX_ITER
    # min-label rounds; a caller-raised Spark cap could converge where
    # the capped unroll under-merges — the operator must refuse the
    # desync up front (raise the shared constant instead).
    from mapreduce_rs_spark.operators.graph import CC_MAX_ITER

    edges = spark.createDataFrame([(1, 2)], ["doc_a", "doc_b"])
    with pytest.raises(ValueError, match="CC_MAX_ITER"):
        connected_components(edges, max_iter=CC_MAX_ITER + 1)


def test_simhash_near_pairs_rejects_unsound_distance(spark, sf_dir):
    # max_hamming >= n_bands breaks the pigeonhole guarantee: a pair at
    # that distance can avoid sharing any band — must raise, not
    # silently return an incomplete pair set.
    from mapreduce_rs_spark.operators.dedup import simhash_near_pairs

    docs = load_table(spark, sf_dir, "documents")
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_near_pairs(docs, max_hamming=4)


def test_components_converge_on_long_chain(spark):
    # Path graph of 12 nodes: worst-case diameter for min-propagation;
    # must still converge inside the iteration budget.
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], ["doc_a", "doc_b"]
    )
    got = {r["doc_id"]: r["component"] for r in connected_components(edges).collect()}
    assert set(got.values()) == {0}
    assert len(got) == 13


def test_dedup_components_cluster_exact_copies(spark, sf_dir):
    # Exact duplicate docs are guaranteed LSH pairs (identical
    # signatures agree on every band) → same component, labeled by the
    # min doc_id of the cluster.
    docs = load_table(spark, sf_dir, "documents")
    comp = {r["doc_id"]: r["component"] for r in dedup_components(docs).collect()}
    for doc_id, c in comp.items():
        assert c <= doc_id
        assert c in comp and comp[c] == c  # label is a real cluster member's id


def test_multiprobe_recall_at_least_single_probe(spark, sf_dir):
    from pyspark.sql import functions as F

    from mapreduce_rs_spark.operators.similarity import (
        knn_bruteforce,
        knn_ivf,
        knn_ivf_multiprobe,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    truth = {(r["q_id"], r["vec_id"]) for r in knn_bruteforce(emb, 10).collect()}
    single = {(r["q_id"], r["vec_id"]) for r in knn_ivf(emb, 10).collect()}
    multi = {(r["q_id"], r["vec_id"]) for r in knn_ivf_multiprobe(emb, 10, 2).collect()}
    assert len(multi & truth) >= len(single & truth)


def test_tfidf_hand_corpus(spark):
    from mapreduce_rs_spark.operators.text_analysis import tfidf_top_terms

    docs = spark.createDataFrame(
        [
            (1, "apple apple banana shared", "en"),
            (2, "banana cherry shared", "en"),
            (3, "cherry cherry cherry shared", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    rows = tfidf_top_terms(docs, 1).collect()
    top = {r["doc_id"]: (r["word"], r["tfidf"]) for r in rows}
    # "shared" appears in all docs -> idf 0, never the top term.
    assert top[1][0] == "apple"
    assert top[3][0] == "cherry"
    assert math.isclose(top[1][1], 2 * math.log(3 / 1))
    assert math.isclose(top[3][1], 3 * math.log(3 / 2))


def _union_find_components(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Independent pure-Python oracle: classic union-find."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Normalize every node to its root, then to the min id in the set.
    groups: dict[int, list[int]] = {}
    for node in list(parent):
        groups.setdefault(find(node), []).append(node)
    return {n: min(members) for root, members in groups.items() for n in members}


def test_components_match_union_find_on_random_graphs(spark):
    """Property check against an independent union-find implementation
    over several deterministic pseudo-random graphs (dense, sparse,
    star, and multi-component shapes)."""
    import random

    for seed, n_nodes, n_edges in [(1, 20, 10), (2, 30, 45), (3, 50, 30), (4, 12, 60)]:
        rng = random.Random(seed)
        edges = sorted(
            {
                tuple(sorted((rng.randrange(n_nodes), rng.randrange(n_nodes))))
                for _ in range(n_edges)
            }
        )
        edges = [(a, b) for a, b in edges if a != b]
        if not edges:
            continue
        expected = _union_find_components(edges)
        df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
        got = {r["doc_id"]: r["component"] for r in connected_components(df).collect()}
        assert got == expected, f"seed={seed}"


def test_kmeans_fit_deterministic(spark, sf_dir):
    from mapreduce_rs_spark.operators.similarity import EMBED_DIM, N_CENTROIDS, kmeans_fit

    emb = load_table(spark, sf_dir, "embeddings")
    c1 = kmeans_fit(emb)
    c2 = kmeans_fit(emb.repartition(7))  # partitioning must not matter
    assert c1 == c2
    assert len(c1) == N_CENTROIDS and all(len(c) == EMBED_DIM for c in c1)
    # Spherical: unit-ish norms (rounded to 6 decimals per coordinate).
    for c in c1:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-3


def test_kmeans_fit_reproduces_shipped_literals(spark):
    """Provenance: re-running kmeans_fit on its documented fit input
    (the sf0.01 embeddings corpus) must reproduce ivf_model.py's
    FITTED_CENTROIDS exactly — the literals are a data artifact, not
    hand-written numbers (the pca_model.py provenance discipline).
    kmeans_refit_distributed is the successor once ivf_k_for's k
    outgrows the sample cap; its own exactness test is the integer
    replica below."""
    from mapreduce_rs_spark.operators.ivf_model import FITTED_CENTROIDS
    from mapreduce_rs_spark.operators.similarity import kmeans_fit

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    assert kmeans_fit(emb) == FITTED_CENTROIDS


def test_kmeans_refit_distributed_matches_integer_replica(spark, sf_dir):
    """The distributed Lloyd rounds must EXACTLY match a pure-Python
    integer replica of the algorithm (quantize → argmax-dot assign with
    tie → higher cid → exact integer sums → renormalize+requantize) —
    the fixed-point discipline means equality is byte-wise, not
    approximate."""
    import decimal
    import math

    from mapreduce_rs_spark.operators.similarity import (
        DRIFT_SCALE,
        KMEANS_DIST_ROUNDS,
        kmeans_init_q,
        kmeans_refit_distributed,
    )

    def rnd(x: float) -> int:  # round-half-away, the Spark/DuckDB round()
        return int(decimal.Decimal(x).quantize(0, rounding=decimal.ROUND_HALF_UP))

    emb = load_table(spark, sf_dir, "embeddings")
    qv = {
        r["vec_id"]: [rnd(float(x) * DRIFT_SCALE) for x in r["e"]]
        for r in emb.selectExpr("vec_id", "CAST(embedding AS array<double>) AS e")
        .collect()
    }
    cents = kmeans_init_q()
    k = len(cents)
    nm = [0] * k
    for _ in range(KMEANS_DIST_ROUNDS):
        sums = [[0] * len(next(iter(qv.values()))) for _ in range(k)]
        nm = [0] * k
        for v in qv.values():
            best = max(
                range(k), key=lambda c: (sum(x * y for x, y in zip(v, cents[c])), c)
            )
            nm[best] += 1
            for p, x in enumerate(v):
                sums[best][p] += x
        nxt = []
        for c in range(k):
            ss = sum(s * s for s in sums[c])
            if nm[c] == 0 or ss == 0:
                nxt.append(cents[c])
            else:
                norm = math.sqrt(float(ss))
                nxt.append([rnd(float(s) / norm * DRIFT_SCALE) for s in sums[c]])
        cents = nxt

    rows = kmeans_refit_distributed(emb).orderBy("centroid_id").collect()
    assert len(rows) == k
    for r in rows:
        c = r["centroid_id"]
        assert r["n_members"] == nm[c], f"cid {c} membership"
        assert r["cq_sum"] == sum(cents[c]), f"cid {c} cq_sum"
        assert r["cq_norm2"] == sum(x * x for x in cents[c]), f"cid {c} cq_norm2"
    # partition-invariance: exact integer arithmetic end to end
    again = {
        r["centroid_id"]: (r["n_members"], r["cq_sum"], r["cq_norm2"])
        for r in kmeans_refit_distributed(emb.repartition(7)).collect()
    }
    assert again == {
        r["centroid_id"]: (r["n_members"], r["cq_sum"], r["cq_norm2"]) for r in rows
    }


def test_kmeans_refit_eval_semantics(spark):
    """The eval's load-bearing property: on the corpus the shipped
    model was FIT on (sf0.01), two more Lloyd rounds are near the
    fixed point, so most clusters must NOT improve (their quality sums
    are identical) — while BOTH decision branches stay live; and the
    identity sum_refit >= sum_init need not hold per cluster (members
    move between clusters), but total refit mass must be >= total init
    mass (Lloyd's monotonicity in the assignment objective carries to
    the cosine mass here because centroids are ~unit)."""
    from mapreduce_rs_spark.operators.similarity import kmeans_refit_eval

    rows = kmeans_refit_eval(
        load_table(spark, "/root/testdata/sf0.01", "embeddings")
    ).collect()
    assert len(rows) == 16
    improved = [r for r in rows if r["refit_improves"]]
    assert improved and len(improved) < len(rows)  # both branches live
    for r in rows:
        assert r["refit_improves"] == (
            r["sum_cos_refit_bp"] > r["sum_cos_init_bp"]
        )
        assert 0 < r["n_members"]
    assert sum(r["n_members"] for r in rows) == 500  # every vector scored
    assert sum(r["sum_cos_refit_bp"] for r in rows) >= sum(
        r["sum_cos_init_bp"] for r in rows
    )


def test_kmeans_refit_distributed_empty_cluster_carries_init(spark):
    """A cluster no vector chooses must keep its previous centroid
    (the guard is vacuous on the shipped corpora — every cluster is
    populated — so prove the branch on a corpus engineered to starve
    most clusters)."""
    from mapreduce_rs_spark.operators.similarity import (
        DRIFT_SCALE,
        kmeans_init_q,
        kmeans_refit_distributed,
    )

    init = kmeans_init_q()
    # three identical-direction vectors: exactly ONE cluster wins them
    # all in round 1 and keeps them in round 2; the other 15 stay empty
    base = [0.1] * 64
    emb = spark.createDataFrame(
        [(i, base) for i in range(1, 4)], ["vec_id", "embedding"]
    )
    rows = kmeans_refit_distributed(emb).collect()
    populated = [r for r in rows if r["n_members"] > 0]
    empty = [r for r in rows if r["n_members"] == 0]
    assert len(populated) == 1 and populated[0]["n_members"] == 3
    assert len(empty) == len(init) - 1
    for r in empty:
        c = init[r["centroid_id"]]
        assert r["cq_sum"] == sum(c), "empty cluster must carry its init vector"
        assert r["cq_norm2"] == sum(x * x for x in c)
        assert abs(r["shift_cos"] - 1.0) < 1e-12  # unmoved → cosine exactly 1


def test_simhash_near_pairs_exact_copies_distance_zero(spark):
    from mapreduce_rs_spark.operators.dedup import simhash_near_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon", "en"),
            (2, "alpha beta gamma delta epsilon", "en"),  # exact copy of 1
            (3, "totally different words entirely here now", "en"),
        ],
        ["doc_id", "text", "lang"],
    )
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(docs).collect()}
    assert pairs.get((1, 2)) == 0


def test_pagerank_mass_conservation_and_symmetry(spark):
    from mapreduce_rs_spark.operators.graph import PAGERANK_SCALE, pagerank

    # Symmetric 3-cycle with equal weights: by symmetry every node must
    # get exactly the same rank, and total mass stays ~SCALE (short only
    # by deterministic floor-division dust).
    edges = spark.createDataFrame(
        [(a, b, 1) for a, b in [(1, 2), (2, 3), (3, 1), (2, 1), (3, 2), (1, 3)]],
        ["src", "dst", "weight"],
    )
    rows = pagerank(edges, iterations=4).collect()
    fps = {r["node"]: r["rank_fp"] for r in rows}
    assert len(set(fps.values())) == 1
    total = sum(fps.values())
    assert PAGERANK_SCALE - 200 <= total <= PAGERANK_SCALE


def test_pagerank_partition_invariant(spark):
    from mapreduce_rs_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(a, b, w) for a, b, w in [(1, 2, 5), (2, 1, 5), (1, 3, 2), (3, 1, 2), (2, 3, 7), (3, 2, 7)]],
        ["src", "dst", "weight"],
    )
    base = {r["node"]: r["rank_fp"] for r in pagerank(edges).collect()}
    reparted = {
        r["node"]: r["rank_fp"] for r in pagerank(edges.repartition(13)).collect()
    }
    # Fixed-point integer arithmetic: bit-identical under any partitioning.
    assert base == reparted


def test_pagerank_rejects_sink_nodes(spark):
    from mapreduce_rs_spark.operators.graph import pagerank

    directed = spark.createDataFrame([(1, 2, 1)], ["src", "dst", "weight"])
    with pytest.raises(ValueError, match="sink"):
        pagerank(directed)


def test_pq_fit_deterministic_and_shaped(spark, sf_dir):
    from mapreduce_rs_spark.operators.similarity import PQ_K, PQ_M, PQ_SUBDIM, pq_fit

    emb = load_table(spark, sf_dir, "embeddings")
    b1 = pq_fit(emb)
    b2 = pq_fit(emb.repartition(5))
    assert b1 == b2  # partitioning must not matter
    assert len(b1) == PQ_M
    assert all(len(book) == PQ_K for book in b1)
    assert all(len(c) == PQ_SUBDIM for book in b1 for c in book)


def test_pq_assign_recovers_exact_codebook_vectors(spark):
    # A vector built FROM codebook entries must encode to exactly those
    # codes (its subvector distance to the chosen centroid is 0).
    from mapreduce_rs_spark.operators.pq_model import FITTED_PQ
    from mapreduce_rs_spark.operators.similarity import PQ_M, pq_assign

    chosen = [3, 7, 0, 15]
    vec = [v for sub, code in enumerate(chosen) for v in FITTED_PQ[sub][code]]
    df = spark.createDataFrame([(1, vec)], ["vec_id", "embedding"])
    row = pq_assign(df).collect()[0]
    assert [row[f"code_{s}"] for s in range(PQ_M)] == chosen


def _lineitem_from_edges(spark, edges, repeats=2):
    """Synthesize a lineitem table whose co-purchase graph (pair
    co-occurrence >= min_orders) is EXACTLY the given edge list: each
    edge becomes `repeats` two-part orders."""
    rows, orderkey = [], 0
    for (u, v) in edges:
        for _ in range(repeats):
            orderkey += 1
            rows.append((orderkey, u))
            rows.append((orderkey, v))
    return spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])


def test_triangle_counts_k4_plus_pendant_and_star(spark):
    from mapreduce_rs_spark.operators.graph import triangle_counts

    # K4 on {1,2,3,4}: 4 triangles, each vertex in C(3,2)=3 of them.
    k4 = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4)]
    # Pendant edge (4,5): node 5 joins no triangle -> absent from output.
    # Star hub 10 with leaves 11..16: a high-degree node with ZERO
    # triangles — the case the degree-ordered orientation exists for.
    star = [(10, leaf) for leaf in range(11, 17)]
    li = _lineitem_from_edges(spark, k4 + [(4, 5)] + star)
    got = {
        r["partkey"]: r["n_triangles"]
        for r in triangle_counts({"lineitem": li}).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_threshold_prunes_weak_edges(spark):
    from mapreduce_rs_spark.operators.graph import triangle_counts

    # Triangle {1,2,3} but edge (2,3) co-occurs only once: below the
    # min_orders=2 support threshold the triangle must disappear.
    strong = _lineitem_from_edges(spark, [(1, 2), (1, 3)], repeats=2)
    weak = _lineitem_from_edges(spark, [(2, 3)], repeats=1)
    li = strong.union(
        weak.select(
            (weak.l_orderkey + 1000).alias("l_orderkey"), "l_partkey"
        )
    )
    assert triangle_counts({"lineitem": li}).count() == 0
    assert triangle_counts({"lineitem": li}, min_orders=1).count() == 3


def test_kcore_peels_pendant_chain_keeps_clique(spark):
    """Hand graph for k-core: K4 on {1,2,3,4} plus a pendant chain
    4-5-6. Peeling must take TWO rounds (drop 5 → 6 orphaned) and the
    3-core is exactly the clique with every core degree = 3."""
    from mapreduce_rs_spark.operators.graph import kcore_decomposition

    clique = [(u, v) for u in (1, 2, 3, 4) for v in (1, 2, 3, 4) if u < v]
    edges = clique + [(4, 5), (5, 6)]
    rows = []
    for i, (u, v) in enumerate(edges):
        for o in (2 * i, 2 * i + 1):  # two shared orders -> min_orders=2
            rows.append((o, u))
            rows.append((o, v))
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    got = {
        r["partkey"]: r["core_degree"]
        for r in kcore_decomposition({"lineitem": li}).collect()
    }
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_kcore_raises_when_round_budget_too_small(spark):
    """An under-unrolled peel must fail loudly, never return a superset
    of the core: a 7-node path needs several rounds to dissolve under
    k=2."""
    from mapreduce_rs_spark.operators.graph import kcore_decomposition

    path = [(i, i + 1) for i in range(1, 7)]
    rows = []
    for i, (u, v) in enumerate(path):
        for o in (2 * i, 2 * i + 1):
            rows.append((o, u))
            rows.append((o, v))
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])
    with pytest.raises(AssertionError, match="did not converge"):
        kcore_decomposition({"lineitem": li}, k=2, rounds=1)


def test_bfs_hops_min_hop_on_hand_graph(spark):
    """Hand graph for BFS: seed chosen by the same portable hash rule
    (computed here with hashlib so the test derives, not assumes, the
    seed), a diamond offering a 1-hop and a 2-hop path to the same node
    (min must win), a chain that exceeds max_hops (unreached nodes
    excluded), and a disconnected island (never reached)."""
    import hashlib

    from mapreduce_rs_spark.operators.graph import bfs_hops

    #   1 - 2 - 4 - 5 - 6 - 7   and 1 - 3 - 4 (diamond 1-2-4 / 1-3-4)
    #   island: 8 - 9
    edges = [(1, 2), (2, 4), (1, 3), (3, 4), (4, 5), (5, 6), (6, 7), (8, 9)]
    rows = []
    for i, (u, v) in enumerate(edges):
        for o in (2 * i, 2 * i + 1):  # two shared orders -> min_orders=2
            rows.append((o, u))
            rows.append((o, v))
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nodes = sorted({n for e in edges for n in e})
    seed = min(nodes, key=lambda n: (h32_py(str(n)), n))

    # pure-Python BFS from the derived seed
    adj: dict[int, set] = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    expected, frontier, hop = {seed: 0}, {seed}, 0
    while frontier and hop < 3:
        hop += 1
        frontier = {
            m for n in frontier for m in adj[n] if m not in expected
        }
        for m in frontier:
            expected[m] = hop

    got = {
        r["partkey"]: r["hop"]
        for r in bfs_hops({"lineitem": li}, n_seeds=1, max_hops=3).collect()
    }
    assert got == expected
    # the fixture must actually exercise the min-hop merge and a cutoff
    assert len(expected) < len(nodes)


def test_pca_fit_deterministic_and_matches_shipped_model(spark):
    """pca_fit must be partition-invariant AND reproduce the committed
    pca_model.py literals exactly when re-run on its provenance input
    (the sf0.01 sample) — the regeneration path stays honest."""
    from mapreduce_rs_spark.operators.pca_model import PCA_COMPONENTS, PCA_MEAN
    from mapreduce_rs_spark.operators.similarity import EMBED_DIM, PCA_R, pca_fit

    emb = load_table(spark, "/root/testdata/sf0.01", "embeddings")
    m1 = pca_fit(emb)
    m2 = pca_fit(emb.repartition(7))  # partitioning must not matter
    assert m1 == m2
    assert m1["mean"] == PCA_MEAN
    assert m1["components"] == PCA_COMPONENTS
    assert len(m1["components"]) == PCA_R
    for w in m1["components"]:
        assert len(w) == EMBED_DIM
        # power iteration returns unit vectors (rounded per coordinate)
        assert abs(sum(x * x for x in w) - 1.0) < 1e-3
        # sign canonicalization: largest-|coordinate| is positive
        assert max(w, key=abs) > 0


def test_weighted_shortest_paths_cheap_detour_beats_direct(spark):
    """Hand graph for Bellman-Ford: edge costs derive from co-purchase
    counts (cost = 100 div n + 1), so a 3-edge chain of STRONG ties
    (50 shared orders each → cost 3/edge = 9) must beat the direct
    weak edge (2 shared orders → cost 51) — the case hop-count BFS
    gets wrong by construction. Expected distances computed by a
    pure-Python Bellman-Ford from the hash-derived seed."""
    import hashlib

    from mapreduce_rs_spark.operators.graph import weighted_shortest_paths

    # weighted edges as (u, v, n_shared_orders)
    edges = [
        (1, 2, 50), (2, 3, 50), (3, 4, 50),  # strong chain 1-2-3-4
        (1, 4, 2),                            # weak direct 1-4
        (4, 5, 2),                            # weak tail
    ]
    rows = []
    order = 0
    for u, v, n in edges:
        for _ in range(n):
            rows.append((order, u))
            rows.append((order, v))
            order += 1
    li = spark.createDataFrame(rows, ["l_orderkey", "l_partkey"])

    def h32_py(s: str) -> int:
        return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)

    nodes = sorted({n for e in edges for n in e[:2]})
    seed = min(nodes, key=lambda n: (h32_py(str(n)), n))
    cost = {}
    for u, v, n in edges:
        cost[(u, v)] = cost[(v, u)] = 100 // n + 1
    # pure-Python bounded Bellman-Ford (4 rounds, the operator default)
    dist = {seed: 0}
    for _ in range(4):
        for (u, v), c in cost.items():
            if u in dist and dist[u] + c < dist.get(v, float("inf")):
                dist[v] = dist[u] + c
    got = {
        r.partkey: r.dist
        for r in weighted_shortest_paths({"lineitem": li}, n_seeds=1).collect()
    }
    assert got == dist
    # the discriminating fact: if 1 is reachable from the seed, its
    # route to 4 must use the strong chain, not the weak direct edge
    if seed == 1:
        assert got[4] == 9 < 51


def test_sdk_plane_derivation_and_prefix_stability():
    """The derived-k semdedup's two static contracts (r10):

    * sdk_planes_for(k) is the smallest p with 2^p·4 >= k, clamped —
      the oracle's CASE chain derives from the same constants, so the
      Python rule is pinned here value-by-value;
    * hyperplanes() draws planes SEQUENTIALLY from one seeded RNG, so
      hyperplanes(16)[:p] == hyperplanes(p) — the property that makes
      the oracle's conditional 16-plane bucket byte-identical to
      Spark's plain planes[:p] sum."""
    from mapreduce_rs_spark.operators.similarity import (
        SDK_PLANE_MAX,
        hyperplanes,
        sdk_planes_for,
    )

    assert sdk_planes_for(1) == 1
    assert sdk_planes_for(8) == 1      # 2^1 * 4 = 8 >= 8
    assert sdk_planes_for(9) == 2      # 8 < 9 <= 16
    assert sdk_planes_for(16) == 2
    assert sdk_planes_for(625) == 8    # 512 < 625 <= 1024
    assert sdk_planes_for(1875) == 9
    assert sdk_planes_for(1 << 17) == 15
    for p in (1, 2, 6, 9, SDK_PLANE_MAX):
        assert hyperplanes(SDK_PLANE_MAX)[:p] == hyperplanes(p)


def test_sdk_blocked_assign_fallback_branch(spark):
    """A vector whose probe bucket meets NO centroid must be assigned
    by the exact full-argmax fallback, never dropped: a 3-vector corpus
    with one vector orthogonal-ish to the single centroid's bucket
    exercises the fb leg; every vector appears exactly once."""
    from pyspark.sql import functions as F

    from mapreduce_rs_spark.operators.similarity import (
        _bucket_expr,
        _sdk_blocked_assign,
        hyperplanes,
    )

    planes = hyperplanes(2)
    # corpus: qv integers; buckets computed the operator's way
    rows = [
        (1, [1000000] + [0] * 63),
        (2, [-1000000] + [0] * 63),
        (3, [0] * 32 + [1000000] + [0] * 31),
    ]
    q = spark.createDataFrame(rows, "vec_id long, qv array<bigint>").select(
        "vec_id", "qv", _bucket_expr("CAST(qv AS array<double>)", planes).alias("bucket")
    )
    cent = spark.createDataFrame(
        [(0, [1000000] + [0] * 63)], "cid int, cq array<bigint>"
    ).select("cid", "cq", F.lit(0).cast("long").alias("n_members"))
    got = _sdk_blocked_assign(q, cent, planes).orderBy("vec_id").collect()
    assert [r.vec_id for r in got] == [1, 2, 3]
    assert all(r.cid == 0 for r in got)  # single centroid: everyone lands on it


def test_oracle_knob_chains_match_python_rules_at_every_boundary():
    """r11: the static-oracle trick's one divergence surface is the
    FORMULA shape of the knob CASE chains (the constants are f-string
    shared). Evaluate the EXACT SQL the oracles embed
    (registry._sdk_kk_select / _ndd_kk_select) in DuckDB over corpora
    of boundary sizes — every clamp edge and stair step — and pin it
    to the Python rules (ivf_k_for / sdk_planes_for) value-by-value.
    A future edit to either side's clamp or ceil that misses its twin
    fails here, not at an sf nobody gated."""
    import duckdb

    from mapreduce_rs_spark.operators.similarity import (
        IVF_TARGET_CLUSTER,
        NEARDUP_BUCKET_TARGET,
        ivf_k_for,
        sdk_planes_for,
    )
    from mapreduce_rs_spark.plans.registry import (
        _ndd_kk_select,
        _sdk_kk_select,
    )

    # clamp edges + stair boundaries for both chains, +-1 around each
    edges = {1, 2, 3, 4, 5}
    for base in (IVF_TARGET_CLUSTER, NEARDUP_BUCKET_TARGET):
        for p in range(0, 17):
            for d in (-1, 0, 1):
                n = base * (1 << p) + d
                if n >= 1:
                    edges.add(n)
    # the ivf_k_for lo/hi clamps: k=4 floor (n <= 128) and k=2^17
    # ceiling (n >= 32 * 2^17)
    edges |= {127, 128, 129, 32 * (1 << 17) - 1, 32 * (1 << 17), 32 * (1 << 17) + 33}
    con = duckdb.connect()
    for n in sorted(edges):
        con.execute(f"CREATE OR REPLACE VIEW v0 AS SELECT * FROM range({n})")
        k_sql, pw_sql = con.execute(_sdk_kk_select()).fetchone()
        k_py = ivf_k_for(n, IVF_TARGET_CLUSTER)
        assert k_sql == k_py, (n, k_sql, k_py)
        assert pw_sql == 1 << sdk_planes_for(k_py), (n, pw_sql)
        (npw_sql,) = con.execute(_ndd_kk_select()).fetchone()
        assert npw_sql == 1 << sdk_planes_for(n, NEARDUP_BUCKET_TARGET), (
            n,
            npw_sql,
        )


def test_within_tau_twins_match_exact_fraction_at_the_boundary(spark):
    """The integer tau threshold of the derived-k semdedup and near-dup
    families, ``_within_tau`` (Spark) and ``_within_tau_sql`` (DuckDB),
    against an exact ``Fraction`` reference of cos = dt / sqrt(na·nb) >=
    tau on hand-made (dt, na, nb) rows: exact ties (a tie drops), one
    unit either side, negative dots, zero norms (cosine undefined: never
    within tau) and magnitudes near 1e15, which squared norms of
    quantized 64-dim vectors reach. Column types are the ones the
    operators feed the twins: BIGINT dt and DECIMAL(38,0) norms in
    Spark, HUGEINT in DuckDB."""
    from decimal import Decimal
    from fractions import Fraction

    import duckdb

    from mapreduce_rs_spark.operators.similarity import (
        NEARDUP_TAU_FRAC,
        SEMDEDUP_TAU_FRAC,
        _within_tau,
    )
    from mapreduce_rs_spark.plans.registry import _within_tau_sql

    big = 10**15
    rows = [
        (2, 1, 25),  # cos = 2/5 exactly: a tie at 2/5 drops
        (2, 1, 26),  # one unit past the tie: kept
        (-2, 1, 25),  # negative dot with |cos| = 2/5
        (0, 0, 25),
        (0, 25, 0),
        (3, 0, 9),
        (0, 0, 0),
        (4 * 10**14, big, big),  # the 2/5 tie near 1e15
        (4 * 10**14 - 1, big, big),
        (4 * 10**14 + 1, big, big),
        (3 * 10**14, big, big),  # the 3/10 tie near 1e15
        (3 * 10**14 - 1, big, big),
        (-(3 * 10**14), big, big),
        (big, big, big),
        (-big, big, big),
    ]

    def within(dt, na, nb, tau):
        if na <= 0 or nb <= 0 or dt < 0:
            return False
        return Fraction(dt * dt, na * nb) >= Fraction(*tau) ** 2

    con = duckdb.connect()
    values = ", ".join(f"({i}, {dt}, {na}, {nb})" for i, (dt, na, nb) in enumerate(rows))
    sdf = spark.createDataFrame(
        [(i, dt, Decimal(na), Decimal(nb)) for i, (dt, na, nb) in enumerate(rows)],
        "id int, dt long, na decimal(38,0), nb decimal(38,0)",
    )
    for tau in (SEMDEDUP_TAU_FRAC, NEARDUP_TAU_FRAC):
        want = [within(*r, tau) for r in rows]
        got_spark = [
            r.w for r in sdf.select("id", _within_tau(tau).alias("w")).orderBy("id").collect()
        ]
        got_duck = [
            w
            for _, w in con.execute(
                f"""SELECT id, {_within_tau_sql(tau)} AS w FROM (
                    SELECT id, CAST(dt AS HUGEINT) AS dt, CAST(na AS HUGEINT) AS na,
                           CAST(nb AS HUGEINT) AS nb
                    FROM (VALUES {values}) v(id, dt, na, nb)
                ) ORDER BY id"""
            ).fetchall()
        ]
        assert got_spark == want, (tau, list(zip(rows, got_spark, want)))
        assert got_duck == want, (tau, list(zip(rows, got_duck, want)))
