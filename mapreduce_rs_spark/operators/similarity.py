"""Similarity search over embedding columns (``array<float>``).

Beyond-reference surface (BASELINE.json north star). Two tiers:

* ``knn_bruteforce`` — exact top-k cosine for a bounded query set. The
  query side is broadcast (it is small by construction); each executor
  scans its corpus partition once computing JVM-side higher-order-function
  cosines, then a per-query top-k window trims results. Corpus never
  shuffles. This is the correctness baseline and is DuckDB-oracle-checked.

* ``lsh_buckets`` / ``knn_lsh`` — the scale path: random-hyperplane LSH.
  Deterministic hyperplanes (seeded, embedded as literals in BOTH the
  Spark plan and the oracle SQL, so the oracle replicates the algorithm
  exactly). Bucketing turns candidate generation into an equi-join on the
  bucket id; at 100 TB each query compares against its bucket instead of
  the full corpus, trading recall for a ~2^planes reduction in work.

All arithmetic is cast to double before accumulation so Spark and DuckDB
agree to float tolerance.
"""

from __future__ import annotations

import functools

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import h32
from mapreduce_rs_spark.functions.vectors import l2_norm
from mapreduce_rs_spark.operators.materialize import materialize
from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

N_PLANES = 6
PLANE_SEED = 42
PLANE_DECIMALS = 6
EMBED_DIM = 64

# ---------------------------------------------------------------------------
# Cast-hoisted vector primitives. Higher-order functions are INTERPRETED
# (no whole-stage codegen, no common-subexpression elimination), so a
# float->double cast written inside a per-centroid/per-plane/per-pair
# expression re-executes for every one of them on every row. The hot
# paths therefore pre-project the embedding to double ONCE per row
# (`.cast("array<double>")`) and per-row norms ONCE per side of a
# scoring join, then combine with these cast-free primitives. The float
# arithmetic (element cast -> multiply -> left-to-right sum -> sqrt ->
# divide) is op-for-op identical to functions.vectors, so results stay
# bit-identical to the DuckDB oracle. Measured 1.6x on ivf_assign and
# ~2x on pairwise cosine stages at sf0.1.
# ---------------------------------------------------------------------------

_DBL = "array<double>"


def _embd() -> F.Column:
    """The embedding column as double: the engine's one read of
    ``embedding`` for arithmetic."""
    return F.col("embedding").cast(_DBL)


def _vectors(df: DataFrame, *keep: str, name: str = "embd") -> DataFrame:
    """(vec_id, *keep, <name>): the corpus with the double embedding
    cast once per row, single-split scans spread first (per-row vector
    work is CPU-bound; a no-op on multi-split inputs)."""
    return ensure_parallelism(df, "vec_id").select("vec_id", *keep, _embd().alias(name))


def _lsh_rows(frame: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vec_id, embd, c_norm, bucket): a (vec_id, embd) frame with its
    norm and hyperplane-LSH bucket, each computed once per row."""
    return frame.select(
        "vec_id",
        "embd",
        _l2_raw(F.col("embd")).alias("c_norm"),
        _bucket_expr("embd", planes).alias("bucket"),
    )


def _as_queries(rows: DataFrame, *extra: F.Column) -> DataFrame:
    """``_lsh_rows`` output renamed to the query side (q_id, q_embd,
    q_norm, q_bucket, *extra) that ``_beam_frontier`` reads."""
    return rows.select(
        F.col("vec_id").alias("q_id"),
        F.col("embd").alias("q_embd"),
        F.col("c_norm").alias("q_norm"),
        F.col("bucket").alias("q_bucket"),
        *extra,
    )


def _vec_sql(v: list[float]) -> str:
    """Literal double array as a SQL fragment. The 'D' suffix forces
    DOUBLE literals — bare SQL decimals parse as DECIMAL(p,s) and would
    poison the arithmetic — and shortest-round-trip ``repr`` keeps
    values bit-identical to ``F.lit(float(x))``."""
    return "array(" + ",".join(f"{float(x)!r}D" for x in v) + ")"


def _dot_lit_sql(a_sql: str, v: list[float]) -> str:
    """SQL fragment: dot(a, literal vector) — the same
    zip_with/aggregate operation chain as ``_dot_raw`` (so values are
    bit-identical), but built server-side by ONE parser call. The k-way
    literal families (16 centroids, 4x16 PQ codebooks, 6 hyperplanes)
    construct hundreds of these per plan; the Python-lambda route costs
    ~10 py4j round trips each, which made plan CONSTRUCTION (not
    Catalyst, not execution) the dominant cost of knn_pq/knn_ivf —
    measured ~2.5 s per build. ``a_sql`` must already be double."""
    return (
        f"aggregate(zip_with({a_sql}, {_vec_sql(v)}, (x, y) -> x * y), "
        f"0.0D, (acc, x) -> acc + x)"
    )


# SQL form of the pre-cast query embedding (see _enrich_queries).
_Q_EMBD_SQL = "CAST(q_emb AS ARRAY<DOUBLE>)"


def _dot_raw(a: F.Column, b: F.Column) -> F.Column:
    """Dot product of two ALREADY-double array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _l2_raw(a: F.Column) -> F.Column:
    """Euclidean norm of an ALREADY-double array column."""
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
    )


def _cos_pair(a: F.Column, b: F.Column, na: F.Column, nb: F.Column) -> F.Column:
    """Cosine from pre-cast arrays + precomputed per-side norms;
    NULL-safe for zero vectors exactly like vectors.cosine_similarity."""
    denom = na * nb
    return F.when(denom != 0, _dot_raw(a, b) / denom)


def hyperplanes(n_planes: int = N_PLANES, dim: int = EMBED_DIM) -> list[list[float]]:
    """Deterministic random hyperplanes, rounded so the identical float
    literals can be embedded in the DuckDB oracle SQL."""
    rng = np.random.RandomState(PLANE_SEED)
    return [
        [round(float(x), PLANE_DECIMALS) for x in rng.normal(size=dim)]
        for _ in range(n_planes)
    ]


N_QUERIES_CAP = 32  # hard bound on the broadcast query side


def _query_set(df: DataFrame, cap: int = N_QUERIES_CAP) -> DataFrame:
    """HARD-bounded deterministic query sample: the ``cap`` vectors with
    the SMALLEST portable hash ``h32(vec_id)`` — the same KMV discipline
    as ``kmeans_fit``'s sample. The orderBy+limit compiles to
    TakeOrderedAndProject (each partition keeps a cap-row heap, driver
    merges), so the broadcast query side is O(cap·dim) REGARDLESS of
    corpus size. The round-3 ``vec_id % 100`` scheme selected a corpus
    *fraction*: at 100 TB of embeddings that broadcast ~1 TB of queries
    (executor OOM) and made the brute-force tier |corpus|²/100 score
    rows — the round-3 verdict's one scale-killer. Mirrored in the
    oracle CTEs via registry's ``_qids_cte``."""
    return (
        df.select(
            F.col("vec_id").alias("q_id"),
            F.col("embedding").alias("q_emb"),
            h32(F.col("vec_id").cast("string")).alias("qh"),
        )
        .orderBy("qh", "q_id")
        .limit(cap)
        .select("q_id", "q_emb")
    )


def _enrich_queries(q: DataFrame, *extra: F.Column) -> DataFrame:
    """(q_id, q_embd, q_norm, *extra) in ONE projection over the KMV
    sample. SINGLE-PROJECTION RULE: stacked selects/withColumns here get
    pushed below the limit by PushProjectionThroughLimit, and two
    stacked Projects no longer match TakeOrderedAndProject's
    Limit(Project(Sort)) pattern — the fallback plans a FULL-CORPUS
    range sort (observed), exactly the shuffle the KMV sample exists to
    avoid. One projection collapses with _query_set's column prune and
    the pattern holds; the cast is re-evaluated inside each derived
    expression, which costs nothing on a cap-row frame.
    ``extra`` expressions may reference ``F.col("q_emb")`` (pre-cast)
    or build on ``_q_embd_expr()``."""
    return q.select("q_id", _q_embd_expr().alias("q_embd"),
                    _l2_raw(_q_embd_expr()).alias("q_norm"), *extra)


def _q_embd_expr() -> F.Column:
    return F.col("q_emb").cast(_DBL)


def _top_k(scored: DataFrame, k: int, score: str = "cos_sim") -> DataFrame:
    """(q_id, vec_id, score, rnk): the ``k`` best rows of a scored pair
    frame per query by (score desc, vec_id) — the ranking every kNN tier
    ends in, with the same tie-break as the oracles' ``_topk_cte``."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col("vec_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "vec_id", score, "rnk")
    )


def knn_bruteforce(
    df: DataFrame, k: int = 10, queries: DataFrame | None = None
) -> DataFrame:
    """Exact top-k cosine neighbors for the query subset.

    Broadcast the queries; corpus-side scan computes cosines without a
    shuffle; the only shuffle is the per-query top-k window over
    |queries|·|corpus| score rows — prune early with the window.
    Casts and norms are hoisted to once-per-row projections on each
    join side, so per-pair work is one dot + one divide.

    ``queries`` lets an evaluator pass an ALREADY-MATERIALIZED
    (q_id, q_emb) sample so the cap-row frame is derived once instead
    of once per consumer (each re-derivation is a full corpus scan
    under the TakeOrdered — nn_descent_recall's scan-audit lesson);
    default keeps the self-contained KMV sample."""
    queries = _enrich_queries(queries if queries is not None else _query_set(df))
    corpus = _vectors(df).withColumn("c_norm", _l2_raw(F.col("embd")))
    scored = (
        corpus
        .join(F.broadcast(queries), F.col("q_id") != F.col("vec_id"))
        .select(
            "q_id",
            "vec_id",
            _cos_pair(
                F.col("q_embd"), F.col("embd"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


def _bucket_expr(embd_sql: str, planes: list[list[float]]) -> F.Column:
    """LSH bucket id: Σ (dot(embd, plane_p) > 0) << p. ``embd_sql`` is
    the SQL form of an already-double array (callers pre-cast once per
    row); built as one parsed expression (see _dot_lit_sql)."""
    bits = " + ".join(
        f"(CASE WHEN {_dot_lit_sql(embd_sql, plane)} > 0 THEN {1 << p} ELSE 0 END)"
        for p, plane in enumerate(planes)
    )
    return F.expr(f"CAST({bits} AS BIGINT)")


def lsh_buckets(df: DataFrame, planes: list[list[float]] | None = None) -> DataFrame:
    """Assign each vector its hyperplane-LSH bucket (narrow, no shuffle).
    Returned per-bucket histogram shows the partition balance a bucketed
    ANN join would see."""
    planes = planes or hyperplanes()
    return (
        df.select(_embd().alias("embd"))
        .select(_bucket_expr("embd", planes).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"))
    )


def knn_lsh(df: DataFrame, k: int = 10, planes: list[list[float]] | None = None) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket
    (equi-join on bucket id), exact cosine re-rank within the bucket.
    Identical algorithm in the oracle → identical (approximate) answer."""
    planes = planes or hyperplanes()
    bucketed = _vectors(df).select(
        "vec_id",
        "embd",
        _bucket_expr("embd", planes).alias("bucket"),
        _l2_raw(F.col("embd")).alias("c_norm"),
    )
    # The KMV query sample carries only (q_id, q_emb); its bucket and
    # norm are recomputed with the identical expressions on the cap-row
    # frame — free, and it keeps the bounded TakeOrdered shape instead
    # of filtering the full bucketed corpus.
    queries = _enrich_queries(
        _query_set(df), _bucket_expr(_Q_EMBD_SQL, planes).alias("q_bucket")
    )
    scored = (
        bucketed.join(
            F.broadcast(queries),
            (F.col("q_bucket") == F.col("bucket")) & (F.col("q_id") != F.col("vec_id")),
        )
        .select(
            "q_id",
            "vec_id",
            _cos_pair(
                F.col("q_embd"), F.col("embd"), F.col("q_norm"), F.col("c_norm")
            ).alias("cos_sim"),
        )
    )
    return _top_k(scored, k)


# IVF/SemDeDup cluster count SCALES WITH THE CORPUS so E[vectors per
# inverted list] stays ~constant (SemDeDup runs ~100k clusters at
# billion-vector scale for the same reason): with fixed k the
# per-cluster pair join in semdedup degrades toward quadratic as N
# grows, and IVF probe cost rises linearly. ivf_k_for is the single
# derivation rule; N_CENTROIDS is its value at the shipped model's fit
# corpus (500 vectors at sf0.01 → k=16), recorded as a constant because
# the fitted centroids are literals shared with the DuckDB oracle.
IVF_TARGET_CLUSTER = 32
CENTROID_SEED = 7


def ivf_k_for(
    n_vectors: int, target: int = IVF_TARGET_CLUSTER, lo: int = 4, hi: int = 1 << 17
) -> int:
    """Cluster count for a corpus of ``n_vectors``: ceil(n/target),
    clamped. ``hi`` bounds the centroid broadcast (2^17 · 64 dims · 8 B
    ≈ 67 MB — the practical literal/broadcast ceiling; beyond that the
    coarse quantizer becomes its own ANN index, out of scope here)."""
    return max(lo, min(hi, -(-n_vectors // target)))


N_CENTROIDS = 16  # = ivf_k_for(500), the shipped model's fit corpus size


def _init_centroids(n: int = N_CENTROIDS, dim: int = EMBED_DIM) -> list[list[float]]:
    """Seeded random centroids — the k-means INIT state (and round 1's
    shipped centroids, before the fit pass existed)."""
    rng = np.random.RandomState(CENTROID_SEED)
    return [
        [round(float(x), PLANE_DECIMALS) for x in rng.normal(size=dim)]
        for _ in range(n)
    ]


KMEANS_SAMPLE_CAP = 100_000  # hard bound on rows collected to the driver


def _fit_sample(df: DataFrame, cap: int) -> np.ndarray:
    """The driver-side fit sample shared by ``kmeans_fit``, ``pq_fit``
    and ``pca_fit``: the ``cap`` embeddings with the smallest
    ``h32(vec_id)`` (KMV), as an (n, dim) double matrix."""
    sample = (
        df.select("vec_id", "embedding")
        .withColumn("h", h32(F.col("vec_id").cast("string")))
        .orderBy("h", "vec_id")
        .limit(cap)
        .select("embedding")
        .collect()
    )
    if len(sample) > cap:  # TakeOrdered guarantees this; keep it loud
        raise AssertionError(f"sample exceeded cap: {len(sample)} > {cap}")
    return np.array([row.embedding for row in sample], dtype=np.float64)


def kmeans_fit(
    df: DataFrame,
    k: int | None = None,
    sample_cap: int = KMEANS_SAMPLE_CAP,
    iters: int = 10,
    dim: int = EMBED_DIM,
) -> list[list[float]]:
    """Fit IVF centroids: seeded spherical k-means on a bounded,
    deterministic sample — how a real 100 TB ANN index builds its
    coarse quantizer (sample → fit a tiny model driver-side →
    broadcast centroids back into the distributed assignment).

    * Sample is the ``sample_cap`` vectors with the SMALLEST portable
      hash ``h32(vec_id)`` — KMV-style systematic sampling. Uniform
      (the hash is uniform over vec_ids), deterministic under any
      partitioning/executor count/retry (unlike ``df.sample``, which
      seeds per partition), and HARD-bounded by construction: the
      orderBy+limit compiles to TakeOrderedAndProject (each partition
      keeps a sample_cap heap, driver merges), so the collect is
      O(sample_cap·dim) REGARDLESS of corpus size — at 100 TB the
      driver still receives at most sample_cap rows. This replaces the
      round-2 ``vec_id % 3`` scheme, which collected a corpus
      *fraction* and would have OOMed a driver at scale.
    * Assignment metric is max dot product, identical to the probe's
      ``_nearest_centroid_expr``; centroids are L2-normalized after
      each mean update (spherical k-means), which keeps argmax-dot
      assignment meaningful and prevents a large-norm centroid from
      absorbing everything.
    * Deterministic end to end (seeded init, fixed iteration count,
      tie → higher centroid id like the probe), so the fitted
      centroids can be rounded and embedded as literals in BOTH the
      Spark plan and the DuckDB oracle — see FITTED_CENTROIDS.
    * ``k=None`` derives the cluster count from the CORPUS size via
      ``ivf_k_for`` (E[cluster] ~ IVF_TARGET_CLUSTER), the round-3
      verdict's scale fix: a fixed k turns semdedup's per-cluster pair
      join quadratic as N grows. At very large k, raise sample_cap in
      step (the assert below keeps >= 8 points per centroid) or switch
      to ``kmeans_refit_distributed`` — the full-corpus Lloyd rounds as
      Spark aggregates, which has no sample and no driver-side ceiling.
    """
    if k is None:
        k = ivf_k_for(df.count())
    x = _fit_sample(df, sample_cap)
    if len(x) < 8 * k:
        raise AssertionError(
            f"sample of {len(x)} too small for k={k} centroids "
            "(need >= 8 points each) — raise sample_cap in step with k, "
            "or fit with kmeans_refit_distributed (full-corpus Lloyd "
            "rounds as Spark aggregates; no sample, no driver ceiling)"
        )
    cents = np.array(_init_centroids(k, dim), dtype=np.float64)
    cents /= np.linalg.norm(cents, axis=1, keepdims=True)
    for _ in range(iters):
        scores = x @ cents.T                      # (n, k) dot products
        # argmax with tie → higher cid, mirroring the probe expression.
        assign = (k - 1) - np.argmax(scores[:, ::-1], axis=1)
        for c in range(k):
            members = x[assign == c]
            if len(members):
                m = members.mean(axis=0)
                norm = np.linalg.norm(m)
                if norm > 0:
                    cents[c] = m / norm
    return [[round(float(v), PLANE_DECIMALS) for v in c] for c in cents]


def centroids(n: int = N_CENTROIDS, dim: int = EMBED_DIM) -> list[list[float]]:
    """The shipped IVF centroids: ``kmeans_fit`` output (seeded, fitted
    on the sf0.01 embeddings sample — see ivf_model.py provenance),
    embedded as literals so the DuckDB oracle replicates assignment
    bit-for-bit. Falls back to the seeded-random init for non-default
    shapes (used by tests exercising the machinery generically)."""
    if n == N_CENTROIDS and dim == EMBED_DIM:
        from mapreduce_rs_spark.operators.ivf_model import FITTED_CENTROIDS

        return FITTED_CENTROIDS
    return _init_centroids(n, dim)


def _centroid_scores_sql(embd_sql: str, cents: list[list[float]]) -> str:
    """Array of (score, cid) structs, one per centroid, as a SQL
    fragment — the single construction site shared by single-probe
    argmax assignment and multiprobe top-n selection, so tie-break
    encoding can never desynchronize between the two. ``embd_sql`` must
    be the SQL form of an already-double array (callers pre-cast once
    per row — a k-way re-cast here was the dominant assignment cost).

    Indexed form (one ``transform(sequence)`` over a literal
    array-of-arrays, like ``_pq_code_expr``): the k inlined dot
    fragments compiled a multi-second codegen constant per query; the
    element_at lookup runs the identical zip_with/aggregate float chain
    per centroid — bit-identical scores, smaller plan."""
    k = len(cents)
    # sequence(0, k-1) with k=0 is the DESCENDING [0, -1], not the empty
    # array the pre-indexed inlined form produced — pin the precondition
    # instead of silently evaluating element_at on an empty literal.
    if k < 1:
        raise ValueError("centroid list must be non-empty")
    cents_sql = "array(" + ",".join(_vec_sql(c) for c in cents) + ")"
    return (
        f"transform(sequence(0, {k - 1}), cid -> "
        f"named_struct('score', aggregate(zip_with({embd_sql}, "
        f"element_at({cents_sql}, cid + 1), (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x), 'cid', cid))"
    )


def _centroid_scores(embd_sql: str, cents: list[list[float]]) -> F.Column:
    return F.expr(_centroid_scores_sql(embd_sql, cents))


def _nearest_centroid_expr(embd_sql: str, cents: list[list[float]]) -> F.Column:
    """Argmax-by-dot-product centroid id: array_max over (score, id)
    structs — ties resolve to the higher id (struct ordering compares
    score first, then cid), mirrored in the oracle's ORDER BY score
    DESC, cid DESC."""
    return F.expr(f"array_max({_centroid_scores_sql(embd_sql, cents)}).cid")


def ivf_assign(
    df: DataFrame,
    cents: list[list[float]] | None = None,
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """Assign each vector to its nearest (max dot product) centroid —
    the IVF inverted-list build. Narrow; at scale you'd write the
    result partitioned by centroid_id so probes prune at the scan.
    ``extra`` columns of ``df`` ride through unchanged (the streaming
    maintenance loop threads its provenance key here)."""
    cents = cents or centroids()
    return (
        _vectors(df, *extra, "embedding", name="_embd")
        .select(
            *extra,
            "vec_id",
            "embedding",
            _nearest_centroid_expr("_embd", cents).alias("centroid_id"),
        )
    )


def ivf_histogram(df: DataFrame) -> DataFrame:
    """Inverted-list size per centroid (the balance check that decides
    whether the centroids need re-training)."""
    return (
        ivf_assign(df)
        .groupBy("centroid_id")
        .agg(F.count("*").alias("n_vectors"))
    )


def knn_ivf(df: DataFrame, k: int = 10) -> DataFrame:
    """Approximate top-k with IVF nprobe=1: each query searches only its
    own centroid's inverted list (equi-join on centroid_id), exact
    cosine re-rank inside the list."""
    cents = centroids()
    assigned = _ivf_assigned_scored(df, cents)
    # Query centroid recomputed on the cap-row KMV sample with the same
    # argmax expression as the corpus assignment (see _query_set).
    queries = _enrich_queries(
        _query_set(df),
        _nearest_centroid_expr(_Q_EMBD_SQL, cents).alias("q_centroid"),
    )
    scored = assigned.join(
        F.broadcast(queries),
        (F.col("q_centroid") == F.col("centroid_id")) & (F.col("q_id") != F.col("vec_id")),
    ).select(
        "q_id",
        "vec_id",
        _cos_pair(
            F.col("q_embd"), F.col("embd"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )
    return _top_k(scored, k)


def _ivf_assigned_scored(df: DataFrame, cents: list[list[float]]) -> DataFrame:
    """Corpus side of an IVF probe: (vec_id, embd, c_norm, centroid_id)
    with the cast, norm, and assignment each computed ONCE per row."""
    return _vectors(df).select(
        "vec_id",
        "embd",
        _l2_raw(F.col("embd")).alias("c_norm"),
        _nearest_centroid_expr("embd", cents).alias("centroid_id"),
    )


def knn_ivf_multiprobe(
    df: DataFrame, k: int = 10, nprobe: int = 2
) -> DataFrame:
    """Approximate top-k with IVF nprobe>1: each query searches its
    ``nprobe`` nearest centroids' inverted lists instead of one — the
    standard recall/cost knob (recall rises with nprobe, scan cost is
    nprobe/n_centroids of the corpus; the index build is untouched).

    Corpus vectors still belong to exactly ONE inverted list, so the
    probed lists are disjoint and no candidate dedup is needed. Probe
    selection is a sort of the k-element (score, cid) array — struct
    descending order gives ties → higher cid, identical to the
    single-probe assignment rule and the oracle's ORDER BY."""
    cents = centroids()
    assigned = _ivf_assigned_scored(df, cents)
    sorted_scores = F.sort_array(
        _centroid_scores(_Q_EMBD_SQL, cents), asc=False
    )
    probes = F.slice(F.transform(sorted_scores, lambda s: s.getField("cid")), 1, nprobe)
    # Probe selection runs on the cap-row KMV query sample (_query_set),
    # never on the corpus — the nprobe centroid scoring is cap·k dots.
    # The probes ARRAY is computed inside the single enrichment
    # projection (single-projection rule, see _enrich_queries); the
    # explode sits ABOVE the limit, so TakeOrdered still matches.
    queries = _enrich_queries(
        _query_set(df), probes.alias("q_probes")
    ).select("q_id", "q_embd", "q_norm", F.explode("q_probes").alias("q_centroid"))
    scored = assigned.join(
        F.broadcast(queries),
        (F.col("q_centroid") == F.col("centroid_id")) & (F.col("q_id") != F.col("vec_id")),
    ).select(
        "q_id",
        "vec_id",
        _cos_pair(
            F.col("q_embd"), F.col("embd"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )
    return _top_k(scored, k)


def array_functions_showcase(df: DataFrame) -> DataFrame:
    """Array higher-order/scalar battery over the embedding column —
    all JVM-side, scalar outputs (no array-typed result columns, which
    hash differently across engines' pandas bridges)."""
    emb = F.col("embedding")
    return df.select(
        "vec_id",
        F.size(emb).alias("dim"),
        F.element_at(emb, 1).alias("first_val"),
        F.array_min(emb).alias("min_val"),
        F.array_max(emb).alias("max_val"),
        l2_norm(emb).alias("l2_norm"),
        F.size(F.filter(emb, lambda x: x > 0)).alias("n_positive"),
    )


def embedding_near_dup(
    df: DataFrame,
    threshold: float = 0.97,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, blocked by the hyperplane
    LSH bucket: the pair join is an equi-join on ``bucket``, never an
    all-pairs product.

    Round 1 blocked on ``label`` — quadratic per label block (millions
    of vectors per label at 100 TB). LSH buckets fix the scale shape:
    2^n_planes blocks whose expected size shrinks as planes are added,
    and genuinely-near-duplicate vectors (cosine → 1) land in the same
    bucket with probability (1 - θ/π)^n_planes → 1, so recall stays
    high exactly for the pairs a near-dup pass is after. The bucket
    blocking is mirrored literally in the DuckDB oracle.

    The default threshold is the production-sensible near-dup cut for
    trained embeddings. The registry calls this with 0.30, calibrated
    to the synthetic test embeddings (random near-orthogonal vectors)
    so the correctness gate exercises real selections — that
    calibration lives at the call site, not in the API default."""
    planes = planes or hyperplanes()
    # Materialize once; the self-join would recompute 2x. The
    # materialized row carries the pre-cast double embedding AND its
    # norm, so per-PAIR work in the self-join is one dot + one divide.
    bucketed = materialize(
        _vectors(df).select(
            "vec_id",
            "embd",
            _bucket_expr("embd", planes).alias("bucket"),
            _l2_raw(F.col("embd")).alias("nrm"),
        ),
    )
    a, b = bucketed.alias("a"), bucketed.alias("b")
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            _cos_pair(
                F.col("a.embd"), F.col("b.embd"), F.col("a.nrm"), F.col("b.nrm")
            ).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


# The legacy fixed-plane query's REGISTRY contract cap (r11 verdict #1):
# the fixed 6-plane bucket model keeps an ~N²/64 PAIR stream, which is
# fine as an intermediate but unbounded as an OUTPUT contract — at
# sf3.0 the uncapped form emitted 51 M rows and killed the verification
# harness's driver-side collect (the registry's last scale-killer
# output shape; its production successor is embedding_near_dup_derived).
# The demoted contract keeps the operator — same buckets, same join,
# same exact cosine chain — but bounds the OUTPUT to the top-cap pairs
# by (cos_sim DESC, vec_a, vec_b): a deterministic total order both
# engines share, compiled by Spark to TakeOrderedAndProject (per-
# partition top-k + driver merge of cap rows — never a global sort,
# never an unbounded collect).
NEARDUP_LEGACY_CAP = 1000


def embedding_near_dup_capped(
    df: DataFrame,
    threshold: float = 0.97,
    cap: int = NEARDUP_LEGACY_CAP,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """``embedding_near_dup`` demoted to a bounded contract: the
    fixed-plane pair stream capped to the global top-``cap`` pairs by
    (cos_sim DESC, vec_a, vec_b). Output is <= ``cap`` rows at ANY
    scale, so the whole-registry verification sweep can collect it at
    every SF; the full-stream form stays available for callers that
    consume the pairs distributively (a dedup sink writes them, never
    collects them). The production-shaped near-dup pass — derived
    plane count, per-bucket rep cap, per-vector partner cap — is
    ``embedding_near_dup_derived``; this entry exists for the fixed-
    plane model's continuity evidence."""
    pairs = embedding_near_dup(df, threshold, planes)
    return pairs.orderBy(
        F.col("cos_sim").desc(), "vec_a", "vec_b"
    ).limit(cap)


SEMDEDUP_TAU = 0.40


def semdedup(df: DataFrame, tau: float = SEMDEDUP_TAU) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023): cluster the
    embedding space with the fitted IVF centroids, then inside each
    cluster drop every vector that has a SMALLER-id neighbor at cosine
    >= tau — deterministic "keep the first copy" pruning of semantic
    near-duplicates that share no exact bytes. Emits the per-cluster
    audit (sizes, drops, drop rate) a curation run records.

    Scale shape: the pair join is an equi-join on centroid_id — never
    an all-pairs product — and per-cluster work is bounded because k
    scales with the corpus (SemDeDup runs ~100k clusters at
    billion-vector scale, keeping E[cluster] ~ N/k constant). The
    assignment table is materialized once (operators/materialize.py)
    so the self-join doesn't recompute the k-way centroid scoring, and
    the final aggregate shuffles only (centroid_id, flag) pairs. The
    drop decision needs just EXISTS over
    the pair stream: dropped ids are distinct-projected before the
    summary join, so duplicate pair matches never double-count.

    tau=0.40 is calibrated to the synthetic near-orthogonal test
    embeddings (like embedding_near_dup's 0.30) so the gate exercises
    real drops; production embeddings use ~0.95+.
    """
    # The materialized assignment row carries the pre-cast double
    # embedding and its norm: per-PAIR work in the cluster-blocked
    # self-join is one dot + one divide.
    assigned = materialize(
        _ivf_assigned_scored(df, centroids()).select(
            "vec_id", "centroid_id", "embd", F.col("c_norm").alias("nrm")
        ),
    )
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.centroid_id") == F.col("b.centroid_id"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .where(
            _cos_pair(
                F.col("a.embd"), F.col("b.embd"), F.col("a.nrm"), F.col("b.nrm")
            )
            >= tau
        )
        .select(F.col("a.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return _drop_report(assigned, dropped, "centroid_id")


def _drop_report(
    assigned: DataFrame, dropped: DataFrame, key: "str | F.Column"
) -> DataFrame:
    """The per-cluster semdedup audit (centroid_id, n_vectors,
    n_dropped, n_kept, drop_ratio): ``assigned`` vectors grouped by
    ``key`` (named centroid_id), ``dropped`` the (vec_id, is_dropped)
    rows of the vectors the pair pass dropped."""
    return (
        assigned.join(dropped, "vec_id", "left")
        .groupBy(key)
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(F.coalesce("is_dropped", F.lit(0))).cast("long").alias("n_dropped"),
        )
        .select(
            "centroid_id",
            "n_vectors",
            "n_dropped",
            (F.col("n_vectors") - F.col("n_dropped")).alias("n_kept"),
            F.try_divide(F.col("n_dropped").cast("double"), F.col("n_vectors")).alias(
                "drop_ratio"
            ),
        )
    )


def _approx_and_grid(
    exact: DataFrame, tiers: list[tuple[str, DataFrame]], *cols: str
) -> tuple[DataFrame, DataFrame]:
    """``approx``: each (method, knn frame)'s ``cols`` labelled with its
    method, as one left-deep unionByName chain; ``grid``: every (method,
    exact query) pair, so an evaluator's zero-hit queries survive the
    join. Oracle twin: registry ``_approx_grid_ctes``."""
    approx = functools.reduce(DataFrame.unionByName, [
        knn.select(*cols).withColumn("method", F.lit(m)) for m, knn in tiers
    ])
    methods = exact.sparkSession.createDataFrame([(m,) for m, _ in tiers], ["method"])
    return approx, exact.select("q_id").distinct().crossJoin(F.broadcast(methods))


def ann_recall(df: DataFrame, k: int = 10) -> DataFrame:
    """Recall@k of every approximate index against the exact brute-force
    ranking — the evaluation harness an ANN deployment runs before
    trusting an index, expressed as one query.

    For each (method, query) the hit count is |approx top-k ∩ exact
    top-k|; recall@k = Σhits / (k · n_queries). All inputs are the
    already-deterministic knn_* operators (same tie-breaks, same
    arithmetic on both engines), so the metric itself is exact integer
    arithmetic plus one final division — oracle-safe.

    Scale shape: the exact side is the expensive input (its cost is the
    brute-force scan, which this evaluation exists to amortize away);
    the intersection join is |methods|·n_queries·k rows — trivially
    small — and the (method × query) grid that restores recall-0 rows
    for queries an index returned nothing for is a broadcast
    nested-loop over a 6-row literal frame, not a shuffle. Evaluated on
    a bounded query sample at 100 TB, exactly as here (_query_set).
    """
    exact = knn_bruteforce(df, k).select("q_id", "vec_id")
    approx, grid = _approx_and_grid(exact, [
        ("lsh", knn_lsh(df, k)),
        ("ivf", knn_ivf(df, k)),
        ("ivf_mp2", knn_ivf_multiprobe(df, k, 2)),
        ("pq", knn_pq(df, k)),
        ("ivfpq", knn_ivfpq(df, k)),
        ("pca", knn_pca(df, k)),
    ], "q_id", "vec_id")
    per_q = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("method", "q_id")
        .agg(F.count(F.lit(1)).alias("n_hits"))
    )
    filled = grid.join(per_q, ["method", "q_id"], "left").select(
        "method", "q_id", F.coalesce(F.col("n_hits"), F.lit(0)).alias("n_hits")
    )
    return filled.groupBy("method").agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.sum("n_hits").cast("int").alias("n_hits"),
        (F.sum("n_hits") / (F.lit(k) * F.count(F.lit(1)))).alias("recall_at_k"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ): the classic memory-compressed ANN index.
# The 64-dim vector is split into PQ_M subvectors; each subspace gets its
# own PQ_K-centroid codebook, and a vector is stored as PQ_M small codes.
# Query-time ADC (asymmetric distance computation) scores a candidate as
# the sum of per-subspace dot products between the RAW query subvector
# and the candidate's CODEBOOK ENTRY — 4 table lookups + 3 adds per
# candidate instead of a 64-dim dot product, which is the entire point
# of PQ at scale (the corpus holds codes, not floats: 8 bytes/vector
# here vs 256).
# ---------------------------------------------------------------------------

PQ_M = 4                        # subspaces
PQ_K = 16                       # codes per subspace
PQ_SUBDIM = EMBED_DIM // PQ_M   # dims per subspace
PQ_SEED = 11


def pq_fit(
    df: DataFrame,
    m: int = PQ_M,
    k: int = PQ_K,
    sample_cap: int = KMEANS_SAMPLE_CAP,
    iters: int = 10,
) -> list[list[list[float]]]:
    """Fit PQ codebooks: per-subspace PLAIN (Euclidean) k-means on the
    same KMV hash-bounded sample as ``kmeans_fit`` (driver collect hard-
    capped at sample_cap rows regardless of corpus size). Plain, not
    spherical: PQ codebooks approximate the subvectors themselves, so
    the mean update is not normalized. Deterministic end to end (seeded
    init per subspace, fixed iterations, argmin-distance assignment
    with tie -> LOWER code id via numpy argmin), so the fitted
    codebooks round to literals shared by the Spark plan and the DuckDB
    oracle (operators/pq_model.py)."""
    subdim = EMBED_DIM // m
    x = _fit_sample(df, sample_cap)
    books: list[list[list[float]]] = []
    for sub in range(m):
        xs = x[:, sub * subdim : (sub + 1) * subdim]
        rng = np.random.RandomState(PQ_SEED + sub)
        cents = xs[rng.choice(len(xs), size=k, replace=False)].copy()
        for _ in range(iters):
            d2 = ((xs[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            assign = d2.argmin(axis=1)          # tie -> lower code id
            for c in range(k):
                members = xs[assign == c]
                if len(members):
                    cents[c] = members.mean(axis=0)
        books.append(
            [[round(float(v), PLANE_DECIMALS) for v in c] for c in cents]
        )
    return books


def _pq_codebooks() -> list[list[list[float]]]:
    from mapreduce_rs_spark.operators.pq_model import FITTED_PQ

    return FITTED_PQ


def _pq_code_expr(sub_sql: str, book: list[list[float]]) -> F.Column:
    """Argmin-squared-distance code for one subspace, computed as
    argmax of (2*dot(sub, c) - |c|^2): |sub|^2 is constant per row, and
    the |c|^2 literals are precomputed IN PYTHON from the rounded
    codebook literals so both engines consume identical constants. Tie
    -> LOWER code id (array_max on (score, -cid) structs), mirroring
    numpy argmin in pq_fit and ORDER BY score DESC, cid ASC in the
    oracle. ``sub_sql`` is the SQL form of an already-double subvector
    slice.

    Built as ONE ``transform(sequence(0, k-1))`` over a literal
    array-of-arrays codebook indexed by ``element_at`` — not k inlined
    dot fragments: the k-way expansion compiled ~2.7 s of
    whole-stage-codegen per query (the r04 verdict's #7 ask); the
    indexed form runs the IDENTICAL zip_with/aggregate float chain per
    code (bit-identical scores, proven by an A/B assignment compare at
    sf0.1) at half the end-to-end cost (measured 1.15 -> 0.59 s cold,
    0.67 -> 0.47 s warm for the 4-subspace assignment over sf0.1)."""
    k = len(book)
    # Same k=0 pin as _centroid_scores_sql: sequence(0, -1) is [0, -1].
    if k < 1:
        raise ValueError("codebook must be non-empty")
    book_sql = "array(" + ",".join(_vec_sql(c) for c in book) + ")"
    norms_sql = (
        "array(" + ",".join(f"{float(sum(v * v for v in c))!r}D" for c in book) + ")"
    )
    return F.expr(
        f"-(array_max(transform(sequence(0, {k - 1}), cid -> "
        f"named_struct('score', 2.0D * aggregate(zip_with({sub_sql}, "
        f"element_at({book_sql}, cid + 1), (x, y) -> x * y), 0.0D, "
        f"(acc, x) -> acc + x) - element_at({norms_sql}, cid + 1), "
        f"'neg_cid', -cid))).neg_cid)"
    )


def _subvec_sql(emb_sql: str, sub: int, subdim: int = PQ_SUBDIM) -> str:
    return f"slice({emb_sql}, {sub * subdim + 1}, {subdim})"


def pq_assign(df: DataFrame) -> DataFrame:
    """Encode every vector as PQ_M codebook codes — the PQ index build.
    Narrow (per-row expressions only); at scale the output is the
    memory-resident index: PQ_M small ints per vector."""
    books = _pq_codebooks()
    # Two hoists: the double cast once per row, then each subvector
    # slice once per row (instead of once per CODE — 16x per subspace
    # in the interpreted expression).
    return (
        _vectors(df, "embedding", name="_embd")
        .select(
            "vec_id",
            "embedding",
            *[
                F.expr(_subvec_sql("_embd", sub)).alias(f"_sub{sub}")
                for sub in range(len(books))
            ],
        )
        .select(
            "vec_id",
            "embedding",
            *[
                _pq_code_expr(f"_sub{sub}", book).alias(f"code_{sub}")
                for sub, book in enumerate(books)
            ],
        )
    )


def pq_code_histogram(df: DataFrame) -> DataFrame:
    """Code usage per subspace — the codebook-balance check (a dead or
    overloaded code means the codebook needs refitting), PQ's analog of
    ivf_histogram."""
    assigned = pq_assign(df)
    # One narrow posexplode over the 4-code array — a single scan and
    # encode pass, not one union leg (and re-encode) per subspace.
    return (
        assigned.select(
            F.posexplode(
                F.array(*[F.col(f"code_{sub}") for sub in range(PQ_M)])
            ).alias("subspace", "code")
        )
        .groupBy("subspace", "code")
        .agg(F.count(F.lit(1)).cast("int").alias("n_vectors"))
    )


def pq_reconstruction_error(df: DataFrame) -> DataFrame:
    """Per-(subspace, code) PQ reconstruction error — the index-quality
    monitor that tells you WHICH codebook entries are earning their
    8 bytes (a code with outsized MSE means its Voronoi cell is too
    coarse; the refit trigger pq_code_histogram's usage counts can't
    see). Complements knn_pq (search quality) with compression quality.

    Float discipline: the assignment reuses pq_assign verbatim (the
    shared-builder rule), and the error is computed in INTEGER
    micro-units — both the vector coordinate and the codebook
    coordinate go through the same round(x·1e6)→BIGINT quantization as
    label_centroid_drift, so each per-vector squared error is an exact
    integer (≤ 16·(6e6)² ≈ 6e14, far inside BIGINT) and the per-code
    sum accumulates as DECIMAL(38,0) — partition-invariant at any
    corpus size. ``mse`` is then a fixed left-to-right division chain
    from that exact integer (sse → /n_vecs → /subdim → /1e12),
    bit-identical in both engines.

    Scale shape: encode + error are narrow per-row expressions; the
    only shuffle is the (subspace, code)-key aggregate with map-side
    partials — PQ_M·PQ_K rows of state regardless of corpus size.
    """
    books = _pq_codebooks()
    qbooks = [
        [[int(round(v * DRIFT_SCALE)) for v in c] for c in book] for book in books
    ]
    assigned = pq_assign(df).select(
        "vec_id",
        _embd().alias("_embd"),
        *[f"code_{sub}" for sub in range(PQ_M)],
    )

    def err_term(sub: int) -> F.Column:
        # quantized codebook as ONE parsed SQL literal — the element-wise
        # F.lit route was 4x16x16 = 1,024 py4j round trips of pure
        # plan-BUILD time per query (the _dot_lit_sql lesson)
        book_sql = (
            "array("
            + ",".join(
                "array(" + ",".join(f"{q}L" for q in c) + ")" for c in qbooks[sub]
            )
            + ")"
        )
        qx = F.expr(_qv_sql(_subvec_sql("_embd", sub)))
        qc = F.element_at(F.expr(book_sql), F.col(f"code_{sub}") + 1)
        return F.aggregate(
            F.zip_with(qx, qc, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )

    entries = F.array(
        *[
            F.struct(
                F.lit(sub).cast("int").alias("subspace"),
                F.col(f"code_{sub}").cast("int").alias("code"),
                err_term(sub).alias("err"),
            )
            for sub in range(PQ_M)
        ]
    )
    per = assigned.select(F.explode(entries).alias("e")).select(
        "e.subspace", "e.code", "e.err"
    )
    return (
        per.groupBy("subspace", "code")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(F.col("err").cast("decimal(38,0)")).alias("_sse"),
        )
        .select(
            "subspace",
            "code",
            "n_vecs",
            (
                F.col("_sse").cast("double")
                / F.col("n_vecs").cast("double")
                / F.lit(float(PQ_SUBDIM))
                / F.lit(float(DRIFT_SCALE) * float(DRIFT_SCALE))
            ).alias("mse"),
        )
    )


def knn_pq(df: DataFrame, k: int = 10) -> DataFrame:
    """Approximate top-k by PQ ADC: candidates are scored as the sum of
    per-subspace dots between the raw query subvector and the
    candidate's codebook entry. The scoring join ships only the PQ_M
    codes per corpus vector (the query side, with its per-code lookup
    expression, broadcasts); the ADC sum is a FIXED 4-term left-
    associated add of deterministic dots, so scores are bit-identical
    across engines and the (score desc, vec_id) top-k is stable."""
    books = _pq_codebooks()
    assigned = pq_assign(df).select(
        "vec_id", *[f"code_{sub}" for sub in range(PQ_M)]
    )
    # Per-query lookup tables: luts[sub][code] = dot(q_sub, book[sub][code]),
    # computed in ONE projection over the KMV sample (single-projection
    # rule — see _enrich_queries; the cast re-evaluates per lut entry on
    # a cap-row frame, which is free) and built as ONE parsed SQL
    # expression (64 dot fragments — the py4j-tax fix, _dot_lit_sql).
    luts = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                _dot_lit_sql(_subvec_sql(_Q_EMBD_SQL, sub), c) for c in book
            )
            + ")"
            for sub, book in enumerate(books)
        )
        + ")"
    )
    q = _query_set(df).select("q_id", luts.alias("luts"))
    def term(sub: int) -> F.Column:
        # element_at is 1-based; codes are 0-based.
        return F.element_at(F.col("luts")[sub], F.col(f"code_{sub}") + 1)

    adc = term(0) + term(1) + term(2) + term(3)
    scored = assigned.join(F.broadcast(q), F.col("q_id") != F.col("vec_id")).select(
        "q_id", "vec_id", adc.alias("adc_sim")
    )
    return _top_k(scored, k, "adc_sim")


def knn_ivfpq(df: DataFrame, k: int = 10) -> DataFrame:
    """IVF-PQ: the two indexes COMPOSED the way a production 100-TB ANN
    deployment actually stores its corpus — inverted lists (IVF) whose
    entries are PQ codes, not floats. knn_ivf prunes candidates but
    ships 256-byte vectors; knn_pq compresses to 8 bytes but scans the
    whole corpus per query. This tier does both: candidates come from
    the query's inverted list only (equi-join on centroid_id), and each
    candidate costs 4 LUT lookups + 3 adds (ADC), reading nothing but
    (centroid_id, code_0..3) per corpus vector.

    The corpus pass computes the centroid assignment and the 4 PQ codes
    in ONE narrow projection chain (cast and subvector slices hoisted
    once per row); at scale that projection is the INDEX BUILD, written
    out partitioned by centroid_id so probes prune at the scan. Scoring
    reuses knn_pq's per-query LUTs and knn_ivf's probe-selection
    expression verbatim — and the oracle composes those tiers' own CTE
    builders, so this tier cannot drift from the two it composes."""
    cents = centroids()
    books = _pq_codebooks()
    corpus = (
        _vectors(df, name="_embd")
        .select(
            "vec_id",
            _nearest_centroid_expr("_embd", cents).alias("centroid_id"),
            *[
                F.expr(_subvec_sql("_embd", sub)).alias(f"_sub{sub}")
                for sub in range(len(books))
            ],
        )
        .select(
            "vec_id",
            "centroid_id",
            *[
                _pq_code_expr(f"_sub{sub}", book).alias(f"code_{sub}")
                for sub, book in enumerate(books)
            ],
        )
    )
    luts = F.expr(
        "array("
        + ", ".join(
            "array("
            + ", ".join(
                _dot_lit_sql(_subvec_sql(_Q_EMBD_SQL, sub), c) for c in book
            )
            + ")"
            for sub, book in enumerate(books)
        )
        + ")"
    )
    q = _query_set(df).select(
        "q_id",
        luts.alias("luts"),
        _nearest_centroid_expr(_Q_EMBD_SQL, cents).alias("q_centroid"),
    )

    def term(sub: int) -> F.Column:
        return F.element_at(F.col("luts")[sub], F.col(f"code_{sub}") + 1)

    adc = term(0) + term(1) + term(2) + term(3)
    scored = corpus.join(
        F.broadcast(q),
        (F.col("q_centroid") == F.col("centroid_id"))
        & (F.col("q_id") != F.col("vec_id")),
    ).select("q_id", "vec_id", adc.alias("adc_sim"))
    return _top_k(scored, k, "adc_sim")


# ---------------------------------------------------------------------------
# PCA embedding compression: the dimensionality-reduction tier. A 100 TB
# embedding corpus is often cosine-searched in a PCA-reduced space first
# (store 16 doubles instead of 64 floats; 4x cheaper pair scoring), with
# the full-dim vectors kept only for optional re-rank. The projection is
# a per-row bank of dot products against FITTED literal components —
# narrow, shuffle-free, and (like IVF/PQ) fitted offline on the bounded
# KMV sample then shipped as literals so the DuckDB oracle replicates
# the projected space bit-for-bit.
# ---------------------------------------------------------------------------

PCA_R = 16          # retained components (4x compression of 64 dims)
PCA_ITERS = 100     # power-iteration steps per component
PCA_SEED = 23
PCA_DECIMALS = 6


def pca_fit(
    df: DataFrame,
    r: int = PCA_R,
    sample_cap: int = KMEANS_SAMPLE_CAP,
) -> dict:
    """Fit top-``r`` principal components on the KMV-bounded sample —
    the kmeans_fit/pq_fit discipline: the driver collect is HARD-BOUNDED
    at ``sample_cap`` rows regardless of corpus size, the fit is seeded
    and deterministic (power iteration with deflation, fixed init from
    ``PCA_SEED``, fixed iteration count), and the rounded components are
    shipped as literals (pca_model.py) so both engines project
    identically.

    Sign canonicalization: each component is flipped so its
    largest-magnitude coordinate is positive — power iteration's sign is
    otherwise arbitrary, and the literals must be reproducible.
    """
    x = _fit_sample(df, sample_cap)
    mean = x.mean(axis=0)
    a = x - mean
    cov = a.T @ a
    rng = np.random.RandomState(PCA_SEED)
    components: list[list[float]] = []
    eigvals: list[float] = []
    for _ in range(r):
        v = rng.normal(size=cov.shape[0])
        v /= np.linalg.norm(v)
        for _ in range(PCA_ITERS):
            v = cov @ v
            v /= np.linalg.norm(v)
        lam = float(v @ cov @ v)
        if v[int(np.argmax(np.abs(v)))] < 0:
            v = -v
        cov = cov - lam * np.outer(v, v)
        components.append([round(float(c), PCA_DECIMALS) for c in v])
        eigvals.append(lam)
    return {
        "mean": [round(float(m), PCA_DECIMALS) for m in mean],
        "components": components,
        "eigvals": eigvals,
    }


def pca_model() -> tuple[list[float], list[list[float]]]:
    """The shipped (mean, components) literals — pca_fit output on the
    sf0.01 embeddings sample (pca_model.py provenance)."""
    from mapreduce_rs_spark.operators.pca_model import PCA_COMPONENTS, PCA_MEAN

    return PCA_MEAN, PCA_COMPONENTS


def _pca_offsets(
    mean: list[float], components: list[list[float]]
) -> list[float]:
    """dot(mean, w_j) per component, computed ONCE in Python and embedded
    as the same scalar literal in both engines — centering as a literal
    subtraction (dot(x - mu, w) = dot(x, w) - dot(mu, w)), so neither
    engine ever materializes x - mu."""
    return [sum(m * c for m, c in zip(mean, w)) for w in components]


def _pca_z_sql(embd_sql: str) -> str:
    """SQL fragment: the projected R-vector for an already-double array
    — one parsed expression (the _dot_lit_sql plan-build rationale)."""
    mean, comps = pca_model()
    offs = _pca_offsets(mean, comps)
    terms = ", ".join(
        f"({_dot_lit_sql(embd_sql, w)} - {float(c)!r}D)"
        for w, c in zip(comps, offs)
    )
    return f"array({terms})"


def _l2_sql(a_sql: str) -> str:
    """SQL fragment: euclidean norm of an already-double array — the
    op-for-op twin of _l2_raw."""
    return (
        f"sqrt(aggregate(transform({a_sql}, x -> x * x), 0.0D, "
        f"(acc, x) -> acc + x))"
    )


def knn_pca(df: DataFrame, k: int = 10) -> DataFrame:
    """Approximate top-k cosine in the PCA-reduced space: both sides
    project to R dims through the fitted literal components, then the
    brute-force scan runs 4x cheaper per pair (R=16 vs 64 dims). Same
    shape as knn_bruteforce — broadcast KMV queries, shuffle-free corpus
    scan, per-query top-k window; at 100 TB the projected corpus is what
    an engine would materialize (64 bytes/vector vs 256) and scan."""
    queries = _enrich_queries(
        _query_set(df),
        F.expr(_pca_z_sql(_Q_EMBD_SQL)).alias("q_z"),
        F.expr(_l2_sql(_pca_z_sql(_Q_EMBD_SQL))).alias("q_z_norm"),
    )
    corpus = (
        _vectors(df)
        .select("vec_id", F.expr(_pca_z_sql("embd")).alias("z"))
        .withColumn("z_norm", _l2_raw(F.col("z")))
    )
    scored = corpus.join(
        F.broadcast(queries), F.col("q_id") != F.col("vec_id")
    ).select(
        "q_id",
        "vec_id",
        _cos_pair(
            F.col("q_z"), F.col("z"), F.col("q_z_norm"), F.col("z_norm")
        ).alias("pca_sim"),
    )
    return _top_k(scored, k, "pca_sim")


# ---------------------------------------------------------------------------
# Ranking-quality evaluation: recall@k (ann_recall) says WHETHER the
# true neighbors were returned; MRR and NDCG say WHERE they landed.
# Both are made oracle-exact by quantizing the per-rank discounts to
# integer micro-units computed ONCE in Python and embedded as the same
# literals in both engines — no transcendental evaluates per row in
# either engine, so the metrics are exact integer sums + one final
# division (the KMV/HLL determinism discipline applied to IR metrics).
# ---------------------------------------------------------------------------

NDCG_SCALE = 1_000_000


def _ranking_tables(k: int) -> tuple[list[int], list[int], list[int]]:
    """The integer micro-unit tables for ranks 1..k, computed driver-side
    and shipped as literals to both engines (so the log2 never runs in
    either): w[r-1] = floor(SCALE / log2(r+1)), prefix[m-1] = Σ w[1..m],
    mrr_w[r-1] = SCALE // r."""
    import math

    w = [int(NDCG_SCALE / math.log2(r + 1)) for r in range(1, k + 1)]
    prefix = [sum(w[:m]) for m in range(1, k + 1)]
    mrr_w = [NDCG_SCALE // r for r in range(1, k + 1)]
    return w, prefix, mrr_w


def ann_ranking_metrics(df: DataFrame, k: int = 10) -> DataFrame:
    """MRR and NDCG@k of one representative index per ANN family —
    lsh (bucketed), ivf (partitioned), pca (compressed) — against the
    exact brute-force top-k (recall@k for all six tiers lives in
    ann_recall; this adds the rank-position-sensitive view an IR
    deployment actually tunes on).

    Relevance is binary (approx hit ∈ exact top-k). Per (method,
    query): DCG = Σ w[rank] over hits with w = the integer micro-unit
    discount table; IDCG = prefix[min(k, |exact|)]; MRR numerator =
    floor(SCALE / first-hit-rank). Queries an index misses entirely
    contribute zeros through the same grid fill as ann_recall. The
    reported ndcg_at_k / mrr are micro-averaged: ONE division of exact
    integer sums each — bit-deterministic cross-engine.

    Scale shape: identical inputs to ann_recall (the exact side is the
    amortized expensive leg; everything downstream is methods x
    n_queries x k rows).
    """
    w_arr, prefix_arr, mrr_arr = (
        F.array(*[F.lit(x) for x in t]) for t in _ranking_tables(k)
    )

    exact = knn_bruteforce(df, k).select("q_id", "vec_id")
    approx, grid = _approx_and_grid(exact, [
        ("lsh", knn_lsh(df, k)),
        ("ivf", knn_ivf(df, k)),
        ("pca", knn_pca(df, k)),
    ], "q_id", "vec_id", "rnk")
    per_q = (
        approx.join(exact, ["q_id", "vec_id"])
        .groupBy("method", "q_id")
        .agg(
            F.sum(F.element_at(w_arr, F.col("rnk"))).cast("long").alias("dcg_u"),
            F.element_at(mrr_arr, F.min("rnk")).cast("long").alias("mrr_u"),
        )
    )
    idcg = (
        exact.groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("int").alias("n_exact"))
        .select(
            "q_id",
            F.element_at(prefix_arr, F.least(F.col("n_exact"), F.lit(k)))
            .cast("long")
            .alias("idcg_u"),
        )
    )
    filled = (
        grid.join(per_q, ["method", "q_id"], "left")
        .join(idcg, "q_id")
        .select(
            "method",
            "q_id",
            F.coalesce("dcg_u", F.lit(0)).alias("dcg_u"),
            F.coalesce("mrr_u", F.lit(0)).alias("mrr_u"),
            "idcg_u",
        )
    )
    return filled.groupBy("method").agg(
        F.count(F.lit(1)).cast("int").alias("n_queries"),
        F.sum("dcg_u").cast("long").alias("sum_dcg_u"),
        F.sum("idcg_u").cast("long").alias("sum_idcg_u"),
        F.sum("mrr_u").cast("long").alias("sum_mrr_u"),
        (F.sum("dcg_u").cast("double") / F.sum("idcg_u").cast("double")).alias(
            "ndcg_at_k"
        ),
        (
            F.sum("mrr_u").cast("double")
            / (F.lit(float(NDCG_SCALE)) * F.count(F.lit(1)))
        ).alias("mrr"),
    )


RRF_K = 60           # the standard RRF damping constant
RRF_SCALE = 1_000_000  # reciprocal ranks quantized to exact integers


def ann_rank_fusion(df: DataFrame, k: int = 10) -> DataFrame:
    """Reciprocal-rank fusion of the LSH and IVF tiers — the standard
    way (Cormack et al.) to combine retrieval lists whose SCORES are
    incomparable (bucket-restricted cosine vs probe-restricted cosine)
    but whose RANKS are: score(v) = Σ_tiers 1/(60 + rank_tier(v)).
    Fusing two cheap indexes recovers much of the recall a single more
    expensive index would buy — the practical middle tier between
    knn_lsh and knn_bruteforce.

    Float discipline: reciprocal ranks are quantized to exact integer
    micro-units BEFORE summing (1e6 div (60+rnk) — integer division,
    not a float 1/x), so the fused score is an exact-integer sum and
    the final ranking is integer-ordered with the vec_id tie-break.
    No floats anywhere in the fusion; the tier top-ks are the already
    oracle-checked knn_lsh/knn_ivf operators reused verbatim (the
    ann_recall no-hand-copy rule).

    Scale: inputs are (n_queries·k)-row frames; the fusion agg and
    rank window are trivially small. Cost is the two tier probes,
    both bounded by the KMV query sample.
    """
    tiers = knn_lsh(df, k).select("q_id", "vec_id", "rnk").unionByName(
        knn_ivf(df, k).select("q_id", "vec_id", "rnk")
    )
    fused = tiers.groupBy("q_id", "vec_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_tiers"),
        F.sum(F.expr(f"{RRF_SCALE} div ({RRF_K} + rnk)"))
        .cast("long")
        .alias("rrf_micro"),
    )
    w = Window.partitionBy("q_id").orderBy(F.col("rrf_micro").desc(), "vec_id")
    return (
        fused.withColumn("fused_rank", F.row_number().over(w).cast("int"))
        .where(F.col("fused_rank") <= k)
    )


# ---------------------------------------------------------------------------
# Integer micro-unit vector arithmetic: the fixed-point format of every
# exact vector operator (label drift, IVF maintenance, outliers, PQ
# error, the distributed k-means family, derived-k semdedup and the
# derived near-dup pass). A coordinate is round(x · DRIFT_SCALE) as
# BIGINT, a dot is an exact BIGINT fold, a squared norm accumulates as
# DECIMAL(38,0), and cos >= tau is an integer cross-multiply. Each piece
# is one builder below, mirrored once in plans/registry.py (`_q_sql`,
# `_qdot_sql`, `_QNORM2_SQL`, `_renorm_sql`, `_within_tau_sql`).
# ---------------------------------------------------------------------------

DRIFT_SCALE = 1_000_000  # per-dimension quantization for exact sums


def _q(x: str) -> str:
    """SQL: the double ``x`` as integer micro-units (round half away
    from zero, then BIGINT)."""
    return f"CAST(round({x} * {float(DRIFT_SCALE)!r}, 0) AS BIGINT)"


def _qv_sql(arr: str) -> str:
    """SQL: the double array ``arr`` quantized element-wise."""
    return f"transform({arr}, x -> {_q('x')})"


def _qv_frame(df: DataFrame) -> DataFrame:
    """The quantized corpus frame (vec_id, qv)."""
    return _vectors(df).select("vec_id", F.expr(_qv_sql("embd")).alias("qv"))


def _qdot_sql(a: str, b: str) -> str:
    """SQL: the exact BIGINT dot of two quantized arrays."""
    return f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), 0L, (acc, x) -> acc + x)"


def _norm2_sql(arr: str = "qv") -> str:
    """SQL: Σx² of a quantized array as an exact DECIMAL(38,0)."""
    return (
        f"aggregate({arr}, CAST(0 AS DECIMAL(38,0)), "
        "(acc, x) -> acc + CAST(x AS DECIMAL(38,0)) * x)"
    )


def _renorm_sql(arr: str) -> str:
    """SQL: the integer vector ``arr`` with squared norm column ``ss``
    rescaled to a unit micro-unit vector — one sqrt, one division and
    one quantization per coordinate, each correctly rounded."""
    return f"transform({arr}, s -> {_q('CAST(s AS DOUBLE) / sqrt(CAST(ss AS DOUBLE))')})"


def _with_nrm2(assigned: DataFrame) -> DataFrame:
    """(vec_id, qv, cid, nrm2): an assigned quantized frame with the
    squared norm the tau threshold reads."""
    return assigned.select("vec_id", "qv", "cid", F.expr(_norm2_sql()).alias("nrm2"))


def _qpair(a: str, b: str) -> list[F.Column]:
    """The (dt, na, nb) columns of a join of frames aliased ``a`` and
    ``b``, each carrying (qv, nrm2)."""
    return [
        F.expr(_qdot_sql(f"{a}.qv", f"{b}.qv")).alias("dt"),
        F.col(f"{a}.nrm2").alias("na"),
        F.col(f"{b}.nrm2").alias("nb"),
    ]


def _within_tau(tau_frac: tuple[int, int]) -> F.Column:
    """cos >= num/den over (dt, na, nb) as the integer cross-multiply
    ``dt >= 0 AND dt²·den² >= na·nb·num²``. A zero-norm side never
    passes (its cosine is NULL, so the pair is kept, as in ``semdedup``);
    without the guard 0 >= 0 would drop it."""
    num, den = tau_frac
    return (
        (F.col("na") > 0)
        & (F.col("nb") > 0)
        & (F.col("dt") >= 0)
        & (
            F.col("dt").cast("decimal(38,0)") * F.col("dt") * (den * den)
            >= F.col("na") * F.col("nb") * (num * num)
        )
    )


def _qcos() -> F.Column:
    """cos_sim over (dt, na, nb): one double division of exact integers."""
    return (
        F.col("dt").cast("double") / F.sqrt((F.col("na") * F.col("nb")).cast("double"))
    ).alias("cos_sim")


def _vec_of() -> F.Column:
    """Aggregate: the (pos, s) rows of a group as the ordered vector of s."""
    return F.transform(
        F.array_sort(F.collect_list(F.struct("pos", "s"))), lambda st: st["s"]
    )


def label_centroid_drift(df: DataFrame) -> DataFrame:
    """Embedding-distribution monitoring per label: each label's
    centroid compared to the global centroid — the drift detector a
    production embedding pipeline runs per ingest batch (a label whose
    centroid swings or whose norm ratio drifts signals an upstream
    model or data change).

    Float discipline: per-dimension coordinates are quantized to
    integer micro-units (round(x·1e6) — one deterministic rounding of
    the exact float→double cast) and SUMMED AS BIGINTs, so the
    centroid sums are exact and partition-invariant; cosine is
    scale-invariant, so cos(mean_l, mean_g) = cos(sum_l, sum_g)
    computed directly on the integer-sum vectors cast to double — the
    knn dot/norm chains on identical inputs, deterministic in both
    engines. ``norm_ratio`` rescales by the exact counts
    (||s_l||·N) / (n_l·||g||). A zero sum vector (a label, or the whole
    corpus, of zero vectors) makes a denominator 0: both columns are
    then NULL, as DuckDB's division returns, not an ANSI error.

    Scale: posexplode is a narrow ×dim expansion; the only shuffle is
    the (label × dim)-key aggregate with map-side partials — state is
    |labels|·dim integers no matter the corpus size. The global vector
    is a dim-row re-aggregate of the label sums, broadcast back.
    """
    q = (
        ensure_parallelism(df, "vec_id")
        .select("label", F.posexplode(_embd()).alias("pos", "x"))
        .select(
            "label",
            "pos",
            F.expr(_q("x")).alias("q"),
        )
    )
    sums = q.groupBy("label", "pos").agg(F.sum("q").alias("s"))
    vec_of = _vec_of()
    label_vecs = sums.groupBy("label").agg(vec_of.alias("vec"))
    global_vec = (
        sums.groupBy("pos")
        .agg(F.sum("s").alias("s"))
        .agg(vec_of.alias("gvec"))
    )
    counts = df.groupBy("label").agg(F.count(F.lit(1)).cast("long").alias("n_vecs"))
    total = counts.agg(F.sum("n_vecs").cast("long").alias("n_total"))
    lv = F.col("vec").cast(_DBL)
    gv = F.col("gvec").cast(_DBL)
    return (
        label_vecs.join(counts, "label")
        .crossJoin(F.broadcast(global_vec))
        .crossJoin(F.broadcast(total))
        .select(
            F.col("label").cast("int").alias("label"),
            "n_vecs",
            F.try_divide(_dot_raw(lv, gv), _l2_raw(lv) * _l2_raw(gv)).alias(
                "cos_to_global"
            ),
            F.try_divide(
                _l2_raw(lv) * F.col("n_total").cast("double"),
                F.col("n_vecs").cast("double") * _l2_raw(gv),
            ).alias("norm_ratio"),
        )
    )


# Integer refit threshold as an exact fraction: refit a list when
# n_new * DEN >= n_before * NUM, i.e. growth >= NUM/DEN (30%). Integer
# cross-multiply so the decision boolean can never flip on float ULP
# between engines (the vocab_coverage threshold discipline).
IVF_REFIT_GROWTH = (3, 10)


def ivf_index_maintenance(df: DataFrame) -> DataFrame:
    """IVF index lifecycle under ingest — the production gap between
    "fitted index" and "index kept serving": a NEW vector batch
    (deterministic split, ``vec_id % 10 >= 8``, the incremental-ingest
    discipline) is assigned to the SHIPPED centroid literals, and each
    inverted list reports what a serving system's maintenance loop
    needs: growth, post-ingest centroid drift, and an integer-threshold
    refit decision.

    Per list: ``n_before`` / ``n_new`` / ``n_after`` membership counts;
    ``growth_bp`` integer basis points (exact ``div``, NULL for lists
    born this batch); ``drift_cos`` — cosine between the shipped
    centroid literal and the post-ingest list SUM vector (scale
    invariance makes the mean unnecessary; coordinates quantized to
    integer micro-units and summed as BIGINTs — the
    ``label_centroid_drift`` arithmetic, exact and
    partition-invariant); ``refit_needed`` — growth >= 30% as an
    integer cross-multiply (``IVF_REFIT_GROWTH``), true for some lists
    and false for others at every test SF (both branches non-vacuous).

    Scale shape: assignment (16 x 64-dim dots per vector, the
    expensive narrow stage) is computed ONCE — counts and coordinate
    sums both come from the same posexploded stream, aggregated per
    (centroid, pos) with the membership tallies carried on the pos-0
    rows, so Catalyst cannot clone the scoring subtree the way two
    separate aggregates over the assignment would. State after the
    first shuffle is |centroids| x dim integers regardless of corpus
    size; the centroid literals ride along as a constant-folded
    element_at lookup, never a join.
    """
    return ivf_maintenance_rollup(ivf_maintenance_partials(df))


def ivf_maintenance_partials(
    df: DataFrame, extra_keys: tuple[str, ...] = ()
) -> DataFrame:
    """The per-arrival half of ``ivf_index_maintenance``: assignment +
    the one-pass (centroid_id, pos) aggregate producing (s, nb, nn).
    Split out so the STREAMING loop (``streaming/pipeline.run_
    streaming_ivf_maintenance``) runs the identical computation per
    micro-batch — one implementation, two arrival modes (the
    ``admit_batch`` discipline). Integer sums make the partials
    MERGEABLE: summing per-batch (s, nb, nn) over any batching equals
    the single-pass aggregate bit-for-bit. ``extra_keys`` joins the
    group key (the streaming loop passes its source-file provenance so
    the state reader can dedup a re-delivered file latest-epoch-wins
    — ADVICE r09); with the default empty tuple the plan is the batch
    operator's, unchanged."""
    marked = ivf_assign(df, extra=extra_keys).withColumn(
        "is_new", F.col("vec_id") % 10 >= 8
    )
    return (
        marked.select(
            *extra_keys,
            "centroid_id",
            "is_new",
            F.posexplode(_embd()).alias("pos", "x"),
        )
        .select(
            *extra_keys,
            "centroid_id",
            "is_new",
            "pos",
            F.expr(_q("x")).alias("q"),
        )
        .groupBy(*extra_keys, "centroid_id", "pos")
        .agg(
            F.sum("q").alias("s"),
            F.count_if(~F.col("is_new")).alias("nb"),
            F.count_if(F.col("is_new")).alias("nn"),
        )
    )


def ivf_maintenance_rollup(per: DataFrame) -> DataFrame:
    """The report half of ``ivf_index_maintenance``: per-centroid
    rollup of the (centroid_id, pos, s, nb, nn) partials into the
    growth/drift/refit report. Shared by the batch operator and the
    streaming state report so the two cannot drift."""
    cents = centroids()
    num, den = IVF_REFIT_GROWTH
    final = per.groupBy("centroid_id").agg(
        _vec_of().alias("vec"),
        # every vector contributes one row per pos, so the membership
        # tallies are identical across pos — read them off pos 0
        F.max(F.when(F.col("pos") == 0, F.col("nb"))).alias("n_before"),
        F.max(F.when(F.col("pos") == 0, F.col("nn"))).alias("n_new"),
    )
    cents_sql = "array(" + ",".join(_vec_sql(c) for c in cents) + ")"
    cv = F.expr(f"element_at({cents_sql}, centroid_id + 1)")
    lv = F.col("vec").cast(_DBL)
    return final.select(
        F.col("centroid_id").cast("int").alias("centroid_id"),
        "n_before",
        "n_new",
        (F.col("n_before") + F.col("n_new")).alias("n_after"),
        F.when(
            F.col("n_before") > 0, F.expr("n_new * 10000 div n_before")
        ).alias("growth_bp"),
        (_dot_raw(lv, cv) / (_l2_raw(lv) * _l2_raw(cv))).alias("drift_cos"),
        (F.col("n_new") * den >= F.col("n_before") * num).alias("refit_needed"),
    )


# Distributed Lloyd rounds for the coarse-quantizer refit (r08 verdict
# #2 — the ANN family's one driver-side ceiling): kmeans_fit collects a
# hard-capped SAMPLE and iterates locally, which stops supplying >= 8
# points per centroid once ivf_k_for's derived k outgrows the cap. This
# path never samples: assignment and the mean updates both run over the
# FULL corpus as Spark aggregates, and the only per-round state is
# |centroids| x dim integers. Two rounds demonstrate the update chain
# (assign -> exact integer sums -> renormalize -> reassign) end to end;
# production would loop until the assignment delta converges.
KMEANS_DIST_ROUNDS = 2


def kmeans_init_q(cents: list[list[float]] | None = None) -> list[list[int]]:
    """The distributed refit's INIT state: the shipped centroid literals
    quantized to integer micro-units (round(c * DRIFT_SCALE) — lossless
    for the 6-decimal literals, since DRIFT_SCALE = 1e6). ONE definition
    shared by the operator and the DuckDB oracle (the entity_match
    ADVICE rule: every oracle knob derives from the operator's own
    constants)."""
    return [
        [int(round(x * DRIFT_SCALE)) for x in c] for c in (cents or centroids())
    ]


def kmeans_refit_distributed(
    df: DataFrame,
    rounds: int = KMEANS_DIST_ROUNDS,
    init: list[list[int]] | None = None,
) -> DataFrame:
    """Distributed coarse-quantizer refit: ``rounds`` Lloyd iterations
    of spherical k-means executed ENTIRELY as Spark aggregates — the
    successor path ``kmeans_fit``'s sample-size assert points at. At
    billions of vectors the driver-side fit cannot supply >= 8 sample
    points per centroid once ``ivf_k_for``'s derived k outgrows the
    capped sample; this path has no sample: every round assigns the
    FULL corpus and re-estimates every centroid from exact full-corpus
    sums.

    Exact-arithmetic design (the fixed-point discipline — pagerank /
    ivf_index_maintenance):

    * corpus coordinates quantize ONCE to integer micro-units
      (round(x · 1e6) as BIGINT, the DRIFT_SCALE recipe);
    * centroid state is integer micro-unit UNIT vectors (norm ~ 1e6),
      so assignment scores are exact 64-term BIGINT dot products
      (|q·cq| <= ~5.5e12/term — the double the oracle accumulates in
      stays exact below 2^53), argmax ties -> higher cid (the
      ``_nearest_centroid_expr`` convention);
    * the update is one (cid, pos)-key aggregate with map-side
      partials — per-round shuffle state is k x dim BIGINTs no matter
      the corpus size; membership tallies ride the pos-0 rows (the
      ``ivf_index_maintenance`` single-pass shape, so the assignment
      subtree is never cloned);
    * renormalization divides the exact integer sum vector by
      sqrt(ss) once and re-quantizes (each step a single
      correctly-rounded IEEE op on bit-identical inputs, so both
      engines land the same integers); spherical k-means makes the
      mean's 1/n cancel — cos(x, s/n) = cos(x, s);
    * an empty (or zero-sum) cluster keeps its previous centroid —
      the guard never fires on the shipped corpora (every cluster is
      populated) and is unit-tested on a synthetic 3-vector corpus.

    Assignment broadcasts the k-row centroid state rolled into ONE
    array-of-structs row (a crossJoin of a 1-row frame — the
    relational.py broadcast-aggregate idiom), so no corpus-sized
    shuffle exists anywhere in the round: scan -> narrow argmax ->
    partial agg -> k x dim-row final agg. Per-round centroid frames
    are materialized (k rows — the iterative-op rule at trivial cost).

    Returns one row per centroid: final-round membership, two integer
    checksums of the refit vector (cq_sum, cq_norm2 — these pin the
    fitted values in the oracle hash), and shift_cos — cosine between
    the init and refit centroid (the drift the refit corrected).
    """
    init = init or kmeans_init_q()
    q, cent = _kmeans_rounds(df, rounds, init)
    iv = F.expr(
        "CAST(element_at("
        + "array(" + ",".join(_cq_sql(c) for c in init) + ")"
        + f", cid + 1) AS {_DBL})"
    )
    cv = F.col("cq").cast(_DBL)
    return cent.select(
        F.col("cid").cast("int").alias("centroid_id"),
        "n_members",
        F.expr("aggregate(cq, 0L, (a, x) -> a + x)").alias("cq_sum"),
        F.expr("aggregate(cq, 0L, (a, x) -> a + x * x)").alias("cq_norm2"),
        (_dot_raw(cv, iv) / (_l2_raw(cv) * _l2_raw(iv))).alias("shift_cos"),
    )


def _cq_sql(vec: list[int]) -> str:
    return "array(" + ",".join(f"{x}L" for x in vec) + ")"


def _init_struct_arr(init: list[list[int]]) -> str:
    """The init model as a SQL array-of-(cid, cq)-structs literal —
    ONE builder for the round engine's seed state and the eval's
    init-side argmax, so fit and eval assignment can never drift."""
    return (
        "array("
        + ",".join(
            f"named_struct('cid', {i}, 'cq', {_cq_sql(c)})"
            for i, c in enumerate(init)
        )
        + ")"
    )


def _rolled_state(cent: DataFrame) -> DataFrame:
    """The k-row centroid state rolled into ONE broadcastable
    array-of-structs row — shared by every assignment consumer (the
    round engine and the eval) for the same no-drift reason."""
    return cent.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("cid"), F.col("cq")))
        ).alias("carr")
    )


def _dkm_winner_sql(carr_sql: str, with_cq: bool = False) -> str:
    """SQL: the argmax-dot winner struct (score, cid[, cq]) of ``qv``
    over the centroid structs ``carr_sql`` (exact BIGINT folds; the
    struct compare breaks score ties -> higher cid, the
    ``_nearest_centroid_expr`` convention)."""
    cq = ", 'cq', c.cq" if with_cq else ""
    return (
        f"array_max(transform({carr_sql}, c -> named_struct("
        f"'score', {_qdot_sql('qv', 'c.cq')}, 'cid', c.cid{cq})))"
    )


def _dkm_argmax_cid() -> F.Column:
    """argmax-dot assignment over the rolled broadcast state ``carr`` —
    the round engine's and every assignment consumer's."""
    return F.expr(_dkm_winner_sql("carr") + ".cid")


def _lloyd_rounds(
    q: DataFrame,
    cent: DataFrame,
    rounds: int,
    assign: "Callable[[DataFrame, DataFrame], DataFrame] | None" = None,
) -> DataFrame:
    """``rounds`` distributed Lloyd iterations from centroid state
    ``cent`` (cid, cq, n_members) over the quantized corpus ``q`` —
    the update engine shared by the literal-seeded refit family
    (``_kmeans_rounds``) and the data-seeded derived-k path
    (``semdedup_derived_k``). Arithmetic and plan shape are documented
    on ``kmeans_refit_distributed``. ``assign`` overrides the
    assignment stage: given (q, cent) it returns a (qv, cid) frame —
    the derived-k path passes its bucket-blocked assignment, whose
    per-vector candidate count stays ~constant as k grows; the default
    is the refit family's exact broadcast argmax (k x 64 dots per
    vector — the right shape when k is bounded)."""
    argmax_cid = _dkm_argmax_cid()
    for _ in range(rounds):
        if assign is not None:
            assigned = assign(q, cent)
        else:
            rolled = _rolled_state(cent)
            assigned = q.crossJoin(F.broadcast(rolled)).select(
                "qv", argmax_cid.alias("cid")
            )
        upd = (
            assigned
            .select("cid", F.posexplode("qv").alias("pos", "qx"))
            .groupBy("cid", "pos")
            .agg(
                F.sum("qx").alias("s"),
                F.count(F.lit(1)).cast("long").alias("n"),
            )
            .groupBy("cid")
            .agg(
                _vec_of().alias("svec"),
                # every member contributes one row per pos — tallies
                # ride the pos-0 rows (ivf_index_maintenance shape)
                F.max(F.when(F.col("pos") == 0, F.col("n"))).alias("nm"),
            )
            .withColumn("ss", F.expr(_norm2_sql("svec")))
        )
        cq_new = F.expr(_renorm_sql("svec"))
        cent = materialize(
            cent.select("cid", "cq")
            .join(upd, "cid", "left")
            .select(
                "cid",
                F.when(
                    F.col("ss").isNull() | (F.col("ss") == 0), F.col("cq")
                ).otherwise(cq_new).alias("cq"),
                F.coalesce(F.col("nm"), F.lit(0).cast("long")).alias("n_members"),
            ),
        )
    return cent


def _kmeans_rounds(
    df: DataFrame,
    rounds: int,
    init: list[list[int]],
) -> tuple[DataFrame, DataFrame]:
    """The Lloyd-round engine behind ``kmeans_refit_distributed`` and
    its quality eval (``kmeans_refit_eval``): returns (q, cent) — the
    materialized integer-quantized corpus frame (vec_id, qv) and the
    final materialized centroid state (cid, cq, n_members) after
    ``rounds`` distributed iterations from ``init``. Arithmetic and
    plan shape are documented on the public report operator."""
    spark = df.sparkSession

    init_arr = _init_struct_arr(init)
    cent = spark.range(1).select(
        F.explode(F.expr(init_arr)).alias("c")
    ).select(
        F.col("c.cid").alias("cid"),
        F.col("c.cq").alias("cq"),
        F.lit(0).cast("long").alias("n_members"),
    )
    q = materialize(_qv_frame(df))
    return q, _lloyd_rounds(q, cent, rounds)


def kmeans_refit_eval(
    df: DataFrame,
    rounds: int = KMEANS_DIST_ROUNDS,
    init: list[list[int]] | None = None,
) -> DataFrame:
    """The refit's QUALITY eval — the swap decision a model-maintenance
    loop makes after ``kmeans_refit_distributed`` produces a candidate
    model: for every corpus vector, compare assignment quality (cosine
    to the ASSIGNED centroid; assignment by the family's argmax-dot,
    tie -> higher cid convention) under the SHIPPED init model vs the
    refit model, rolled up per refit cluster. Completes the fit → eval
    → swap lifecycle the other index tiers already have (ann_recall,
    nn_descent_recall, lsh_dedup_eval).

    Exactness: both cosines are single double chains on exact integers
    (the BIGINT dot carried through the argmax winner / (sqrt of the
    exact |qv|² · sqrt of the exact |cq|²)), quantized to integer
    basis points (round(cos · 1e4)) per vector and SUMMED AS BIGINTs —
    per-cluster quality mass is exact and partition-invariant, and
    ``refit_improves`` is an integer compare of two exact sums over
    the SAME vector set (the integer-threshold rule). The winner
    struct carries its cq through the argmax (struct compares score
    then cid; cid is unique, so the vector field never decides).

    Scale shape: ONE pass over the checkpointed quantized corpus —
    both models ride along (init as constant-folded literals, refit as
    the broadcast rolled k-row state) — then one (refit cid)-key
    aggregate with map-side partials; k rows out. ``n_members`` here
    is assignment under the FINAL model; the report operator's
    membership is the last update round's (assignment under
    C_{rounds-1}) — the off-by-one is inherent to Lloyd's."""
    init = init or kmeans_init_q()
    q, cent = _kmeans_rounds(df, rounds, init)
    rolled = _rolled_state(cent)
    init_carr = _init_struct_arr(init)

    def cos_bp(w_col: str) -> F.Column:
        # a zero vector's cosine is NULL (0/0), so its bp drops out of
        # the sums — DuckDB's double division by zero, not an ANSI error
        return F.round(
            F.try_divide(
                F.expr(f"CAST({w_col}.score AS DOUBLE)"),
                _l2_raw(F.col("qv").cast(_DBL))
                * _l2_raw(F.expr(f"CAST({w_col}.cq AS {_DBL})")),
            )
            * 10000
        ).cast("long")

    scored = (
        q.crossJoin(F.broadcast(rolled))
        .select(
            F.expr(_dkm_winner_sql("carr", with_cq=True)).alias("wr"),
            F.expr(_dkm_winner_sql(init_carr, with_cq=True)).alias("wi"),
            "qv",
        )
        .select(
            F.expr("wr.cid").alias("cid"),
            cos_bp("wr").alias("r_bp"),
            cos_bp("wi").alias("i_bp"),
        )
    )
    return scored.groupBy(F.col("cid").cast("int").alias("centroid_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.sum("i_bp").alias("sum_cos_init_bp"),
        F.sum("r_bp").alias("sum_cos_refit_bp"),
        (F.sum("r_bp") > F.sum("i_bp")).alias("refit_improves"),
    )


# semdedup_derived_k's tau as an EXACT fraction (2/5 = the family's
# calibrated 0.40) so the pair threshold is an integer cross-multiply —
# no float compare can flip a boundary pair between engines.
SEMDEDUP_TAU_FRAC = (2, 5)


SDK_BUCKET_TARGET = 4  # E[centroids per LSH bucket] the plane count aims at
SDK_PLANE_MAX = 16     # bucket-space ceiling (2^16 buckets)


def sdk_planes_for(k: int, target: int = SDK_BUCKET_TARGET) -> int:
    """Plane count for bucket-blocked assignment against k centroids:
    the smallest p with 2^p · target >= k, clamped to [1, SDK_PLANE_MAX]
    — E[centroids per bucket] stays <= ``target`` as k grows, which is
    what keeps per-vector assignment work ~CONSTANT instead of O(k).
    The log-N knob the fixed-plane LSH tiers document, made explicit."""
    q = -(-k // target)
    return max(1, min(SDK_PLANE_MAX, (q - 1).bit_length() if q > 1 else 1))


def _sdk_blocked_assign(
    q: DataFrame,
    cent: DataFrame,
    planes: list[list[float]],
) -> DataFrame:
    """Bucket-blocked nearest-centroid assignment — the derived-k
    family's scale fix for the N·k brute-force argmax (measured 7.9x
    wall on 3x data at sf3.0 BECAUSE k grows with N, so brute-force
    assignment is N²/target):

    * centroids replicate into their Hamming<=1 probe buckets
      (k·(p+1) rows — the SMALL side carries the multiprobe explode,
      so the corpus joins on its single own-bucket key);
    * each vector argmaxes the exact BIGINT dot over ONLY the
      centroids its bucket meets (~target·(p+1) candidates, constant
      in N by ``sdk_planes_for``); ties -> higher cid via the struct
      max (the family convention); a (vector, centroid) pair can meet
      through at most one mask (probe buckets of one centroid are
      distinct), so no dedup is needed;
    * vectors whose bucket meets NO centroid fall back to the exact
      broadcast argmax over the full rolled state — rare by
      construction (E[centroids/bucket] ~ target) and exact, so the
      operator never drops a vector.

    Assignment is thus DEFINED as Hamming<=1-blocked argmax with exact
    fallback — deterministic and oracle-mirrorable (both engines build
    the same candidate sets), the approximate-k-means trade every
    production coarse quantizer makes (FAISS trains on GPU brute force
    but ASSIGNS through its own IVF probes at serving scale).
    Returns (vec_id, qv, cid); ``q`` must carry (vec_id, qv, bucket).
    The winner struct carries qv through the argmax (struct compares
    score then cid; cid is unique per candidate set, so the array
    field never decides — the kmeans_refit_eval convention), keeping
    the group key narrow."""
    masks = [0] + [1 << i for i in range(len(planes))]
    cb = cent.select(
        "cid",
        "cq",
        _bucket_expr(f"CAST(cq AS {_DBL})", planes).alias("cb"),
    ).select(
        "cid",
        "cq",
        F.explode(F.array(*[F.expr(f"cb ^ {m}") for m in masks])).alias("bucket"),
    )
    score = F.expr(_qdot_sql("qv", "cq"))
    winners = (
        q.join(F.broadcast(cb), "bucket")
        .select(
            "vec_id",
            F.struct(
                score.alias("s"), F.col("cid").alias("c"), F.col("qv").alias("q")
            ).alias("sc"),
        )
        .groupBy("vec_id")
        .agg(F.max("sc").alias("w"))
        .select("vec_id", F.expr("w.q").alias("qv"), F.expr("w.c").alias("cid"))
    )
    fallback = (
        q.join(winners.select("vec_id"), "vec_id", "left_anti")
        .crossJoin(F.broadcast(_rolled_state(cent)))
        .select("vec_id", "qv", _dkm_argmax_cid().alias("cid"))
    )
    return winners.unionByName(fallback)


def _sdk_quantize(df: DataFrame, planes: list[list[float]]) -> DataFrame:
    """Quantized corpus WITH its own-bucket key (vec_id, qv, bucket),
    materialized: one narrow pass, one checkpoint read by every
    consumer (seed select, rounds, assignments)."""
    return materialize(
        _qv_frame(df).select(
            "vec_id",
            "qv",
            _bucket_expr(f"CAST(qv AS {_DBL})", planes).alias("bucket"),
        ),
    )


def _sdk_fit(
    df: DataFrame,
    rounds: int = KMEANS_DIST_ROUNDS,
    target: int = IVF_TARGET_CLUSTER,
) -> tuple[DataFrame, DataFrame, list[list[float]]]:
    """The derived-k model fit — k = ivf_k_for(N), p = sdk_planes_for(k),
    data-seeded init (k h32-smallest vec_ids renormalized to micro-unit
    vectors; zero-norm filtered), ``rounds`` bucket-blocked Lloyd rounds.
    Returns (quantized corpus, fitted centroids, planes). Shared by
    ``semdedup_derived_k`` (fit + pair dedup over one corpus), the
    registry's ``semdedup_ingest_audit`` and the streaming ingest twin's
    ``build_semdedup_store`` (fit over the standing split, serve the
    admission gate) — one definition, so the model can never drift
    between the batch query and the serving store."""
    n = df.count()
    k = ivf_k_for(n, target)
    planes = hyperplanes(sdk_planes_for(k))
    q = _sdk_quantize(df, planes)
    ss = F.expr(_norm2_sql())
    # seed state: ONE projection over q -> TakeOrdered(k) -> k-row
    # window for cid + renormalize (bounded by construction: k <= 2^17)
    heads = (
        q.select(
            "vec_id", "qv", ss.alias("ss"),
            h32(F.col("vec_id").cast("string")).alias("h"),
        )
        .where(F.col("ss") > 0)
        .orderBy("h", "vec_id")
        .limit(k)
    )
    w_seed = Window.orderBy("h", "vec_id")
    cent0 = materialize(
        heads.select(
            (F.row_number().over(w_seed) - 1).cast("int").alias("cid"),
            F.expr(_renorm_sql("qv")).alias("cq"),
            F.lit(0).cast("long").alias("n_members"),
        ),
    )
    cent = _lloyd_rounds(
        q, cent0, rounds, assign=lambda qq, cc: _sdk_blocked_assign(qq, cc, planes)
    )
    return q, cent, planes


def _sdk_admit(
    assigned_new: DataFrame,
    standing: DataFrame,
    tau_frac: tuple[int, int] = SEMDEDUP_TAU_FRAC,
) -> DataFrame:
    """The SemDeDup ADMISSION rule over already-assigned frames: an
    ingested vector (``assigned_new``: vec_id, qv, cid, nrm2) drops iff
    ANY standing member (same columns) of its cluster is within tau —
    integer cross-multiply on exact BIGINT dots with the zero-norm
    guard (base semdedup's NULL-cosine keep semantics). Returns
    (vec_id, cid, is_dropped). Shared by the registry's
    ``semdedup_ingest_audit`` and the streaming twin's
    ``semdedup_admit_batch`` — the decision rule has one definition."""
    a, b = assigned_new.alias("a"), standing.alias("b")
    dropped = (
        a.join(b, F.col("a.cid") == F.col("b.cid"))
        .select(F.col("a.vec_id").alias("vec_id"), *_qpair("a", "b"))
        .where(_within_tau(tau_frac))
        .select("vec_id")
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return assigned_new.join(dropped, "vec_id", "left").select(
        "vec_id",
        "cid",
        F.coalesce("is_dropped", F.lit(0)).cast("int").alias("is_dropped"),
    )


def semdedup_derived_k(
    df: DataFrame,
    tau_frac: tuple[int, int] = SEMDEDUP_TAU_FRAC,
    rounds: int = KMEANS_DIST_ROUNDS,
    target: int = IVF_TARGET_CLUSTER,
) -> DataFrame:
    """``semdedup`` with the model the SemDeDup recipe actually calls
    for (Abbas et al. 2023 run ~100k clusters at billion-vector scale):
    k DERIVED from the corpus (``ivf_k_for(N)`` — E[cluster] ~
    ``target`` constant) and centroids FIT DISTRIBUTEDLY over the full
    corpus (the ``kmeans_refit_distributed`` Lloyd engine), instead of
    the fixed 16-centroid literal the original query assigns against.
    That literal is the r09 verdict's one weak grade: with fixed k,
    E[cluster] = N/16 grows linearly and the within-cluster pair join
    quadratically — measured 8.5x wall on 3x data at sf3.0. Here
    E[cluster] stays ~``target`` at any N, so the pair join is ~linear
    (N·target/2 pairs).

    Model derivation, all distributed / SQL-mirrorable:

    * k = ivf_k_for(count(corpus)) — ceil(N/target) clamped to the
      centroid-broadcast ceiling (2^17);
    * p = sdk_planes_for(k) LSH planes — the plane count SCALES WITH k
      (E[centroids/bucket] <= 4), so bucket-blocked assignment stays
      ~constant work per vector as the corpus grows. The first version
      of this query used the exact N·k broadcast argmax and measured
      7.9x wall on 3x data at sf3.0 — quadratic-in-N assignment, the
      same disease the derived k cures in the pair join;
    * seeds = the k h32-smallest vec_ids (the KMV discipline — a
      uniform deterministic sample, TakeOrdered so the frame is k rows
      by construction), each renormalized to integer micro-unit UNIT
      vectors with the round-update arithmetic (zero-norm vectors
      filtered before seeding);
    * ``rounds`` full-corpus Lloyd iterations via ``_lloyd_rounds``
      with the bucket-blocked assignment (``_sdk_blocked_assign``:
      Hamming<=1 candidate argmax + exact fallback for bucket-orphan
      vectors) — per-round shuffle state is k x dim BIGINTs.

    The dedup itself is the ``semdedup`` shape on exact integers: the
    final model assigns every vector (same blocked assignment), the
    pair join blocks on derived centroid_id, and the drop test
    ``cos >= tau`` is the integer cross-multiply ``dot >= 0 AND
    den²·dot² >= num²·|a|²·|b|²`` (tau = num/den — SEMDEDUP_TAU_FRAC),
    so the threshold can never flip between engines. Per-cluster audit
    columns match ``semdedup``.

    Scale shape: every stage is now ~linear in N — quantize+bucket
    (one narrow pass), per-round assignment (~target·(p+1) candidate
    dots per vector via the bucket equi-join against the broadcast
    k·(p+1)-row replicated centroid frame), the (cid,pos) update
    (k x dim integers), the cid-blocked pair join (E[cluster] ~
    target), and the (cid, flag) audit aggregate."""
    q, cent, planes = _sdk_fit(df, rounds, target)
    # final-model assignment of the FULL corpus (the same blocked
    # assignment the rounds use), carrying the exact squared norm the
    # pair threshold needs; materialized once — the self-join must not
    # recompute the candidate argmax
    assigned = materialize(_with_nrm2(_sdk_blocked_assign(q, cent, planes)))
    a, b = assigned.alias("a"), assigned.alias("b")
    dropped = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("b.vec_id") < F.col("a.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_id"), *_qpair("a", "b"))
        .where(_within_tau(tau_frac))
        .select("vec_id")
        .distinct()
        .withColumn("is_dropped", F.lit(1))
    )
    return _drop_report(
        assigned, dropped, F.col("cid").cast("int").alias("centroid_id")
    )


def semdedup_ingest_audit(
    df: DataFrame,
    tau_frac: tuple[int, int] = SEMDEDUP_TAU_FRAC,
    rounds: int = KMEANS_DIST_ROUNDS,
    target: int = IVF_TARGET_CLUSTER,
) -> DataFrame:
    """The streaming semdedup ingest twin's batch core as an ORACLED
    query: fit the derived-k model on the STANDING split
    (vec_id % 10 < 8 — the ingest convention), assign the standing
    corpus, then gate the ingest split (vec_id % 10 >= 8) through the
    admission rule — an ingested vector drops iff ANY standing member
    of its assigned cluster is within tau (``_sdk_admit``: integer
    cross-multiply, zero-norm guard). Emits the per-cluster ingest
    audit (n_ingested / n_dropped / n_admitted / drop_ratio).

    This is exactly what ``run_streaming_semdedup_ingest`` computes
    per micro-batch against the persisted store (same ``_sdk_fit``,
    same ``_sdk_admit`` — one definition each), so the continuous
    loop's decisions are externally hash-verified through this query.
    Cross-ingest (new vs new) dedup is the next full recluster's job —
    the graph tier's ingest/rebuild division of labor.

    Scale shape: the fit is ``semdedup_derived_k``'s (~linear in
    standing N); the ingest side is one narrow quantize+bucket pass,
    a blocked assignment (~constant candidate dots per vector), and a
    cid equi-join against the standing assignment with E[cluster] ~
    ``target`` constant — per-ingest work is batch-proportional."""
    standing_src = df.where(F.col("vec_id") % 10 < 8)
    ingest_src = df.where(F.col("vec_id") % 10 >= 8)
    q, cent, planes = _sdk_fit(standing_src, rounds, target)
    standing = _with_nrm2(_sdk_blocked_assign(q, cent, planes))
    qi = _sdk_quantize(ingest_src, planes)
    # materialized: read by the admission join AND the final audit
    assigned_new = materialize(_with_nrm2(_sdk_blocked_assign(qi, cent, planes)))
    return _ingest_report(_sdk_admit(assigned_new, standing, tau_frac))


def _ingest_report(decisions: DataFrame) -> DataFrame:
    """The per-cluster admission audit (centroid_id, n_ingested,
    n_dropped, n_admitted, drop_ratio) over (cid, is_dropped) decision
    rows — shared by ``semdedup_ingest_audit`` and the streaming twin's
    ``streaming_semdedup_ingest_report``."""
    return (
        decisions.groupBy(F.col("cid").cast("int").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ingested"),
            F.sum("is_dropped").cast("long").alias("n_dropped"),
        )
        .select(
            "centroid_id",
            "n_ingested",
            "n_dropped",
            (F.col("n_ingested") - F.col("n_dropped")).alias("n_admitted"),
            F.try_divide(
                F.col("n_dropped").cast("double"), F.col("n_ingested")
            ).alias("drop_ratio"),
        )
    )


# embedding_near_dup_derived's knobs. Tau as an EXACT fraction (3/10 =
# the synthetic-corpus calibration the fixed-plane query used) so the
# pair threshold is an integer cross-multiply; bucket target = the
# E[vectors per LSH bucket] the derived plane count aims at; rep cap =
# the per-bucket posting cap that bounds WORST-CASE candidate volume
# (skewed buckets — see the docstring); pair cap = the per-vector
# partner budget a production near-dup sink keeps.
NEARDUP_TAU_FRAC = (3, 10)
NEARDUP_BUCKET_TARGET = 32
NEARDUP_REP_CAP = 32
NEARDUP_PAIR_CAP = 4


def embedding_near_dup_derived(
    df: DataFrame,
    tau_frac: tuple[int, int] = NEARDUP_TAU_FRAC,
    cap: int = NEARDUP_PAIR_CAP,
    target: int = NEARDUP_BUCKET_TARGET,
    rep_cap: int = NEARDUP_REP_CAP,
) -> DataFrame:
    """``embedding_near_dup`` made production-shaped — the r10 verdict's
    one weak grade retired. Three fixes, all the tree's own conventions:

    * **Derived plane count.** The fixed query blocks on 2^6 buckets, so
      E[bucket] = N/64 grows linearly and within-bucket pairs
      quadratically — 51 M result rows at sf3.0. Here the plane count
      comes from the corpus: p = ``sdk_planes_for(N, target)`` (smallest
      p with 2^p·target >= N), so E[vectors per bucket] stays <=
      ``target`` at any N. The docstring promise of the original
      operator ("expected size shrinks as planes are added") finally
      true of the shipped query.
    * **Per-bucket rep cap.** Derived planes bound the EXPECTED bucket,
      not the worst one: hyperplane LSH can never split a tight
      similarity cluster (its members land on the same side of every
      plane w.h.p. — that co-bucketing IS the recall guarantee), so on
      clustered data the dense bucket grows with the cluster and its
      within-bucket pairs quadratically. Measured on this corpus:
      max bucket 3068 at sf3.0 vs E[bucket] 29 — candidate pairs grew
      10.8x on 3x data under all-pairs-within-bucket. The posting-cap
      convention (the prefix-filter tiers, NN-Descent's bucket reps)
      bounds it: each vector compares against at most ``rep_cap``
      per-bucket representatives (the h32-smallest — deterministic
      uniform KMV sampling), so candidate volume is
      Σ_b pop_b·min(pop_b, rep_cap) <= N·rep_cap, LINEAR at any skew.
      Sparse buckets (pop <= rep_cap) stay exhaustive; only dense
      buckets subsample — exactly where near-dup partners abound, so a
      true near-duplicate still surfaces w.h.p.
    * **Capped partner contract.** Each vector keeps at most ``cap``
      partners ranked (cos DESC, partner id) — the per-document partner
      budget a production near-dup pass sinks instead of an unbounded
      pair list. Output is <= cap·N rows at any scale (the sf3.0
      51 M-row collect ceiling disappears with the operator fix). The
      contract is a DIRECTED partner list: (vec_a, vec_b) = (vector,
      rep partner); a pair of mutual reps appears in both directions.

    Arithmetic is the derived-k family's exact-integer discipline:
    vectors quantize to integer micro-units once, the threshold
    ``cos >= tau`` is the integer cross-multiply ``dt >= 0 AND
    dt²·den² >= na·nb·num²`` (tau = num/den) so no float compare can
    flip a boundary pair between engines, and zero-norm vectors are
    excluded (``na > 0 AND nb > 0``) matching the float variant's
    NULL-cosine semantics. The reported ``cos_sim`` is ONE double
    division over exact integers (dt / sqrt(na·nb)), bit-identical
    across engines; the rank orders by round(cos_sim, 9) with vec_b as
    the tie-break (the float-rank convention).

    Scale shape: one narrow quantize+bucket pass materialized once
    (both join sides read the checkpoint, compute nothing twice), a
    per-bucket rep window (WindowGroupLimit trims map-side), the
    bucket equi-join at <= rep_cap candidates per vector, and one
    per-vec_a top-cap window — every stage linear in N."""
    n = df.count()
    planes = hyperplanes(sdk_planes_for(n, target))
    bucketed = materialize(
        _qv_frame(df).select(
            "vec_id",
            "qv",
            _bucket_expr(f"CAST(qv AS {_DBL})", planes).alias("bucket"),
            F.expr(_norm2_sql()).alias("nrm2"),
        ),
    )
    wr = Window.partitionBy("bucket").orderBy(
        h32(F.col("vec_id").cast("string")), F.col("vec_id")
    )
    reps = (
        bucketed.withColumn("rep_rn", F.row_number().over(wr))
        .where(F.col("rep_rn") <= rep_cap)
        .select("vec_id", "qv", "bucket", "nrm2")
    )
    a, b = bucketed.alias("a"), reps.alias("b")
    hits = (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") != F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
            *_qpair("a", "b"),
        )
        .where(_within_tau(tau_frac))
        .select("vec_a", "vec_b", _qcos())
    )
    w = Window.partitionBy("vec_a").orderBy(
        F.round(F.col("cos_sim"), 9).desc(), F.col("vec_b")
    )
    return (
        hits.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= cap)
        .select("vec_a", "vec_b", "cos_sim", "rnk")
    )


def embedding_near_dup_eval(
    df: DataFrame,
    tau_frac: tuple[int, int] = NEARDUP_TAU_FRAC,
    cap: int = NEARDUP_PAIR_CAP,
    target: int = NEARDUP_BUCKET_TARGET,
    rep_cap: int = NEARDUP_REP_CAP,
) -> DataFrame:
    """Recall harness for ``embedding_near_dup_derived`` — the family
    convention (ann_recall / lsh_dedup_eval / nn_descent_recall): every
    approximate tier ships the evaluation you would run before trusting
    it. The derived query trades exhaustiveness for linearity twice
    (bucket blocking loses cross-bucket pairs; the rep cap subsamples
    dense buckets); this query prices that trade with a number: for
    each of the KMV-sample queries, the EXACT top-``cap`` partners
    (full-corpus scan, same integer arithmetic, no buckets, no rep cap)
    vs the shipped query's partner list — per-query n_true / n_hit /
    recall. Zero-partner queries appear with n_true = 0, recall NULL
    (the ann_recall grid-restore discipline).

    Reading the number: hyperplane-LSH recall for a pair at angle θ is
    (1 - θ/π)^p, so the SYNTHETIC gate calibration (tau = 0.30 — 72°
    apart on a near-orthogonal corpus) deliberately sits where blocking
    sheds most candidates; low recall there is the trade working, not
    failing. The pairs a production near-dup pass is after sit at
    cos → 1 (θ → 0), where co-bucketing holds w.h.p. at ANY derived
    plane count (an exact duplicate co-buckets with probability 1 —
    pinned by the planted-duplicate fixture test); the 0.9-ish
    "semantically similar" band in between is ``semdedup``'s
    cluster-blocked job, not this operator's.

    Scale shape: the found side IS the shipped operator (the eval-reuse
    rule — never hand-copy the index formula being evaluated); the
    exact side is the brute-force pass this evaluation exists to
    amortize away, bounded by the 32-row broadcast sample exactly like
    knn_bruteforce; the intersection join is <= 32·cap rows."""
    found = embedding_near_dup_derived(
        df, tau_frac, cap, target, rep_cap
    ).select("vec_a", "vec_b")
    corpus = materialize(
        _qv_frame(df).select("vec_id", "qv", F.expr(_norm2_sql()).alias("nrm2")),
    )
    # ONE projection -> TakeOrdered (the single-projection rule), then
    # materialized: the 32-row sample feeds the exact join AND the
    # final grid restore, and post-limit projections must not break
    # the TakeOrderedAndProject match
    sample = materialize(
        corpus.select(
            "vec_id", "qv", "nrm2",
            h32(F.col("vec_id").cast("string")).alias("qh"),
        )
        .orderBy("qh", "vec_id")
        .limit(N_QUERIES_CAP),
    )
    s, c = sample.alias("s"), corpus.alias("c")
    ex = (
        F.broadcast(s)
        .join(c, F.col("s.vec_id") != F.col("c.vec_id"))
        .select(
            F.col("s.vec_id").alias("q_id"),
            F.col("c.vec_id").alias("p_id"),
            *_qpair("s", "c"),
        )
        .where(_within_tau(tau_frac))
        .select("q_id", "p_id", _qcos())
    )
    wx = Window.partitionBy("q_id").orderBy(
        F.round(F.col("cos_sim"), 9).desc(), F.col("p_id")
    )
    ex_top = (
        ex.withColumn("rnk", F.row_number().over(wx))
        .where(F.col("rnk") <= cap)
        .select("q_id", "p_id")
    )
    e, f = ex_top.alias("e"), found.alias("f")
    hitrows = (
        e.join(
            f,
            (F.col("f.vec_a") == F.col("e.q_id"))
            & (F.col("f.vec_b") == F.col("e.p_id")),
            "left",
        )
        .groupBy("q_id")
        .agg(
            F.count(F.lit(1)).alias("n_true"),
            F.sum(
                F.when(F.col("f.vec_b").isNotNull(), 1).otherwise(0)
            ).alias("n_hit"),
        )
    )
    return (
        sample.select(F.col("vec_id").alias("q_id"))
        .join(hitrows, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_true", F.lit(0)).cast("long").alias("n_true"),
            F.coalesce("n_hit", F.lit(0)).cast("long").alias("n_hit"),
            F.try_divide(
                F.coalesce("n_hit", F.lit(0)).cast("double"),
                F.coalesce("n_true", F.lit(0)),
            ).alias("recall"),
        )
    )


def knn_ivf_refit(
    df: DataFrame,
    k: int = 10,
    rounds: int = KMEANS_DIST_ROUNDS,
    init: list[list[int]] | None = None,
) -> DataFrame:
    """IVF search SERVING THE REFIT MODEL — the swap, executed: after
    ``kmeans_refit_distributed`` produces a candidate model and
    ``kmeans_refit_eval`` decides it wins, a serving system re-points
    its probes at the refit centroids. This query is that state:
    ``knn_ivf``'s exact shape (nprobe=1 inverted-list probe, exact
    cosine re-rank, per-query top-k) with BOTH the corpus assignment
    and the query probe argmaxing against the refit's rolled integer
    state instead of the shipped literals — completing the model
    lifecycle the family documents: fit (kmeans_refit_distributed) ->
    eval (kmeans_refit_eval) -> swap -> serve (this).

    Assignment is the family's exact BIGINT argmax (quantized vector
    dot the broadcast k-row rolled state, ties -> higher cid) so
    corpus and query sides can never disagree with the fit's own
    assignment; ranking cosine stays on the raw double embeddings
    (every knn_* tier's convention). Lloyd rounds re-run inside the
    query by the family's self-contained-query convention
    (kmeans_refit_eval's precedent) — a production system reads the
    swapped centroid table from disk instead.

    Scale shape: the rounds are the refit's own (k x dim integer
    shuffle state); corpus assignment + enrich is one narrow pass
    (k·64 dots per vector against the broadcast state); the query
    side is the hard-capped KMV sample; the probe is an equi-join on
    centroid_id; the top-k window partitions by q_id."""
    init = init or kmeans_init_q()
    q, cent = _kmeans_rounds(df, rounds, init)
    rolled = _rolled_state(cent)
    return _refit_serve_topk(_refit_assign(df, rolled), df, rolled, k)


def _refit_assign(df: DataFrame, rolled: DataFrame) -> DataFrame:
    """Corpus-side refit assignment: (vec_id, embd, c_norm,
    centroid_id) — double embd + norm + the family's exact BIGINT
    argmax against the broadcast rolled state, each computed once per
    row (the _ivf_assigned_scored discipline); qv through ``_qv_sql``,
    the fit's own quantization. ONE definition shared
    by ``knn_ivf_refit`` (self-contained query) and the streaming
    serve twin's per-batch step (streaming/pipeline.py), so the
    continuous loop's assignments can never drift from the query's."""
    return (
        _vectors(df)
        .select("vec_id", "embd", _l2_raw(F.col("embd")).alias("c_norm"),
                F.expr(_qv_sql("embd")).alias("qv"))
        .crossJoin(F.broadcast(rolled))
        .select("vec_id", "embd", "c_norm", _dkm_argmax_cid().alias("centroid_id"))
    )


def _refit_serve_topk(
    assigned: DataFrame, query_src: DataFrame, rolled: DataFrame, k: int
) -> DataFrame:
    """The serve stage over an already-assigned corpus frame
    (vec_id, embd, c_norm, centroid_id): KMV-capped query sample from
    ``query_src``, query-side argmax against the SAME rolled state,
    nprobe=1 inverted-list probe (centroid equi-join), exact cosine
    re-rank, per-query top-k. Shared by ``knn_ivf_refit`` and the
    streaming twin's drained-state report — the serve contract has one
    definition."""
    queries = (
        _query_set(query_src)
        .crossJoin(F.broadcast(rolled))
        .select(
            "q_id",
            _q_embd_expr().alias("q_embd"),
            F.expr(_qv_sql(_Q_EMBD_SQL)).alias("qv"),
            "carr",
        )
        .select(
            "q_id",
            "q_embd",
            _l2_raw(F.col("q_embd")).alias("q_norm"),
            _dkm_argmax_cid().alias("q_centroid"),
        )
    )
    scored = assigned.join(
        F.broadcast(queries),
        (F.col("q_centroid") == F.col("centroid_id"))
        & (F.col("q_id") != F.col("vec_id")),
    ).select(
        "q_id",
        "vec_id",
        _cos_pair(
            F.col("q_embd"), F.col("embd"), F.col("q_norm"), F.col("c_norm")
        ).alias("cos_sim"),
    )
    return _top_k(scored, k)


OUTLIER_TOP_K = 50


def embedding_outliers(df: DataFrame, top_k: int = OUTLIER_TOP_K) -> DataFrame:
    """Per-vector outlier detection: squared distance to the vector's
    own LABEL centroid, global top-k — the row-level companion of
    label_centroid_drift (distribution-level): drift says a label
    moved; this names the individual vectors that don't belong
    (mislabeled rows, corrupted embeddings — the triage list an
    embedding-QA pass reviews).

    Exact arithmetic: coordinates quantize to integer micro-units
    (round(x·1e6) — the drift recipe); with s = per-(label, dim) SUM
    and n = label count, the centroid-free form

        n² · d²(x, s/n) = Σ_dim (n·q_x − s)²

    is pure integer (each squared term lifted into DECIMAL(38,0) —
    n·q reaches 6e15 at 1e9-row labels, its square needs 38 digits),
    summed exactly per vector; the reported ``dist2`` divides once by
    n²·10¹² (a fixed chain on bit-identical inputs, so the top-k
    boundary cannot flip between engines; ties break on vec_id).

    Scale shape: the (label, dim) sums are |labels|·dim rows —
    broadcast back to the narrow exploded stream; one vec_id-key
    aggregate; TakeOrderedAndProject caps the result at top_k with
    per-partition heaps (no global sort).
    """
    from mapreduce_rs_spark.operators.materialize import materialize

    # The exploded stream feeds BOTH the sums aggregate and the
    # join-back; materialized once so the scan+posexplode+quantization
    # pass isn't expanded into each consumer (the repo's read->=2x
    # rule; review finding).
    q = materialize(
        ensure_parallelism(df, "vec_id")
        .select(
            "vec_id",
            "label",
            F.posexplode(_embd()).alias("pos", "x"),
        )
        .select(
            "vec_id",
            "label",
            "pos",
            F.expr(_q("x")).alias("qx"),
        ),
    )
    sums = q.groupBy("label", "pos").agg(
        F.sum("qx").cast("long").alias("s"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    per_vec = (
        q.join(F.broadcast(sums), ["label", "pos"])
        .select(
            "vec_id",
            "label",
            "n",
            F.expr(
                "CAST((n * qx - s) AS DECIMAL(38,0)) * (n * qx - s)"
            ).alias("term"),
        )
        .groupBy("vec_id", "label")
        .agg(F.min("n").alias("n"), F.sum("term").alias("ssum"))
    )
    scored = per_vec.select(
        "vec_id",
        "label",
        F.expr(
            "CAST(ssum AS DOUBLE) / (CAST(n AS DOUBLE) * n)"
            f" / {float(DRIFT_SCALE) ** 2!r}"
        ).alias("dist2"),
    )
    top = scored.orderBy(F.col("dist2").desc(), "vec_id").limit(top_k)
    w = Window.orderBy(F.col("dist2").desc(), "vec_id")
    return top.select(
        F.row_number().over(w).cast("int").alias("rnk"),
        "vec_id",
        F.col("label").cast("int").alias("label"),
        "dist2",
    )


# ---------------------------------------------------------------------------
# NN-Descent: the graph-based ANN tier (k-NN graph construction).
#
# Every other ANN family in this module prunes the CANDIDATE SET per
# query (LSH buckets, IVF lists, PQ codes); the graph tier is the
# missing fourth family: build an approximate k-NN GRAPH over the whole
# corpus by iterative neighbor-of-neighbor refinement (Dong, Moses &
# Li, "Efficient k-nearest neighbor graph construction for generic
# similarity measures", WWW 2011) — the construction HNSW/NSG-style
# serving indexes start from, and the batch artifact a 100 TB corpus
# actually materializes (the serving structure is built FROM this graph
# by a single-node indexer; the distributed part is the graph).
#
# Scale shape per round: candidates come ONLY from bounded local joins —
# each node contributes its <= k forward neighbors and <= k reverse
# neighbors (reverse degree is unbounded at a hub, so the reverse side
# is CAPPED per center by (cos DESC, id) — the paper's reverse-sample
# rho), so the per-round candidate count is <= N * (2k)^2 + N * k, an
# equi-join + bounded-window pipeline with no all-pairs anywhere. Each
# round's edge frame is materialized (the iterative-op rule: without it
# Catalyst would expand round r's plan into a 2^r tree of round-0
# subtrees — the Bellman-Ford lesson, graph.py).
# ---------------------------------------------------------------------------

# Parameters were CALIBRATED, not guessed (numpy replica sweep, SCALE.md
# round-8): k=8 with own-bucket seeding freezes at a fixed point almost
# immediately — on the shipped corpus recall plateaus at ~4% (comparable
# to the raw LSH tier) because the seed never places a true neighbor in
# any pool and flat-similarity neighborhoods stop mixing. Two levers fix
# it: (a) Hamming-1 MULTIPROBE seeding (each node scores the reps of its
# own bucket plus the N_PLANES buckets one bit-flip away — for weakly
# clustered vectors P(true neighbor within Hamming<=1) is several times
# P(same bucket)), and (b) k=16 (pool mixing scales with neighborhood
# size; k=8 pools cover ~half the cluster the node belongs to and the
# descent fixes there). Measured recall@16 on the shipped corpus:
# 4% (k=8, no probe) -> 80% at sf0.01 / ~62% at sf0.1 (k=16, probe,
# 3 rounds) — above every pruning tier (lsh 3%, ivf 18%, ivf_mp2 38%).
NND_K = 16         # out-degree of the k-NN graph
NND_ROUNDS = 3     # fixed descent rounds; the oracle replays the same count
NND_SEED_CAP = 12  # per-bucket representatives seeding each node's list


def _nnd_corpus(df: DataFrame, planes: list[list[float]]) -> DataFrame:
    """(vec_id, embd, c_norm, bucket), materialized: read by the seed
    join and by BOTH sides of every round's scoring join (>= 2x rule)."""
    return materialize(_lsh_rows(_vectors(df), planes))


def _nnd_reps(v: DataFrame, seed_cap: int) -> DataFrame:
    """(bucket, rep_id): the <= seed_cap h32-smallest members of every
    LSH bucket — the deterministic bounded sample both the build's seed
    and the serving path's entry beam probe (ONE definition, so
    build/serve symmetry cannot drift)."""
    w = Window.partitionBy("bucket").orderBy(
        h32(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        v.select("bucket", "vec_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= seed_cap)
        .select("bucket", F.col("vec_id").alias("rep_id"))
    )


def _probe_masks(planes: list[list[float]]) -> list[int]:
    """Hamming-<=1 multiprobe XOR masks: self + one flip per plane."""
    return [0] + [1 << p for p in range(len(planes))]


def _n_par(df: DataFrame) -> int:
    """The pinned-N partition count for CPU-heavy narrow stages — the
    entity_match_customers convention (ADVICE r07): build-time core
    count alone under-partitions when executors are added after
    planning, and AQE is deliberately bypassed by the pin."""
    sess = df.sparkSession
    try:
        shuffle_n = int(sess.conf.get("spark.sql.shuffle.partitions", "200"))
    except ValueError:
        # e.g. "auto" on platforms with auto-optimized shuffle
        # (ADVICE r12): fall back to the cluster's parallelism alone.
        shuffle_n = 0
    return max(sess.sparkContext.defaultParallelism, shuffle_n)


def _nnd_topk(
    pairs: DataFrame, v: DataFrame, k: int, dedup: bool = False
) -> DataFrame:
    """Score DISTINCT (src, dst) candidate pairs with exact cosine and
    keep each src's top-k by (cos DESC, dst). The window is bounded by
    construction: <= (2k)^2 + k candidates per src ever reach it.

    Parallelism pin (r12, the entity_match AQE blind spot): candidate
    pairs are narrow BYTES (two longs) but each costs a 64-dim exact
    cosine — AQE coalesced the pair exchange to 1-2 partitions at
    sf0.1 (measured: the per-round scoring jobs ran 2-4 tasks on 32
    cores; the three round jobs held ~2.4 s of the member's 8.3 s
    wall). A pinned-N repartition on ``src`` is exempt from AQE
    coalescing, satisfies the dedup aggregate's (src, dst) clustering
    AND the top-k window's (src) clustering, so the whole
    dedup -> score -> window chain runs on N partitions with ONE
    exchange where distinct-then-window paid two."""
    pairs = pairs.repartition(_n_par(pairs), F.col("src"))
    if dedup:
        pairs = pairs.dropDuplicates(["src", "dst"])
    scored = (
        pairs.join(
            v.select(
                F.col("vec_id").alias("src"),
                F.col("embd").alias("s_emb"),
                F.col("c_norm").alias("s_norm"),
            ),
            "src",
        )
        .join(
            v.select(
                F.col("vec_id").alias("dst"),
                F.col("embd").alias("d_emb"),
                F.col("c_norm").alias("d_norm"),
            ),
            "dst",
        )
        .select(
            "src",
            "dst",
            _cos_pair(
                F.col("s_emb"), F.col("d_emb"), F.col("s_norm"), F.col("d_norm")
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("src").orderBy(F.col("cos_sim").desc(), F.col("dst"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("src", "dst", "cos_sim", F.col("rnk").cast("int").alias("rnk"))
    )


def nn_descent_knn_graph(
    df: DataFrame,
    k: int = NND_K,
    rounds: int = NND_ROUNDS,
    seed_cap: int = NND_SEED_CAP,
    planes: list[list[float]] | None = None,
    corpus: DataFrame | None = None,
    reps: DataFrame | None = None,
) -> DataFrame:
    """Approximate k-NN graph via LSH-seeded NN-Descent.

    Seed: each node scores the <= ``seed_cap`` KMV-chosen representatives
    (h32-smallest per bucket — a deterministic bounded sample, never the
    full bucket, so a saturated bucket cannot go quadratic) of its own
    hyperplane-LSH bucket AND of every bucket at Hamming distance 1
    (multiprobe — the calibration above shows own-bucket seeding cannot
    bootstrap the descent), keeping its top-k. Then ``rounds`` NN-Descent
    iterations: each node's forward neighbors and (capped) reverse
    neighbors are joined center-to-center, so neighbors of neighbors
    become candidates; candidates union the current edges, are deduped,
    exactly re-scored, and the top-k per node kept. Descent crosses
    bucket boundaries the seed cannot: a's neighbor b pulls in b's
    neighbor c even when a and c never shared a probed bucket.

    Returns the final graph: (vec_id, nbr_id, cos_sim, rnk) — N*k rows.
    Every join is an equi-join on vec_id / bucket / center; every window
    is bounded by construction; each round materializes one N*k edge
    frame (operators/materialize.py).
    """
    planes = planes or hyperplanes()
    # ``corpus`` lets a caller that ALSO needs the (vec_id, embd, norm,
    # bucket) frame (knn_graph_search) pass its already-materialized
    # copy instead of checkpointing the corpus twice (knn_bruteforce's
    # shared-sample discipline). Must have been built with the same
    # ``planes``.
    v = corpus if corpus is not None else _nnd_corpus(df, planes)
    # ``reps`` mirrors ``corpus``: knn_graph_search materializes the
    # same (bucket, rep_id) frame for its entry beam and passes it in,
    # so the full-corpus reps window isn't computed twice per serve.
    if reps is None:
        reps = _nnd_reps(v, seed_cap)
    reps = reps.select("bucket", F.col("rep_id").alias("dst"))
    # Hamming-<=1 multiprobe: each node probes its own bucket plus the
    # one-bit-flip buckets (distinct masks -> distinct probe targets ->
    # unique (src, dst) pairs, no dedup needed). The probe fan-out is a
    # narrow explode; candidate generation stays an equi-join on the
    # probed bucket id.
    probe_arr = F.array(
        *[F.expr(f"bucket ^ {m}") for m in _probe_masks(planes)]
    )
    seed_pairs = (
        v.select(F.col("vec_id").alias("src"), "bucket")
        .select("src", F.explode(probe_arr).alias("bucket"))
        .join(reps, "bucket")
        .where(F.col("src") != F.col("dst"))
        .select("src", "dst")
    )
    edges = materialize(_nnd_topk(seed_pairs, v, k))
    for _ in range(rounds):
        rev_w = Window.partitionBy("center").orderBy(
            F.col("cos_sim").desc(), "member"
        )
        fwd = edges.select(
            F.col("src").alias("center"), F.col("dst").alias("member")
        )
        rev = (
            edges.select(
                F.col("dst").alias("center"),
                F.col("src").alias("member"),
                "cos_sim",
            )
            .withColumn("rn", F.row_number().over(rev_w))
            .where(F.col("rn") <= k)
            .select("center", "member")
        )
        # b is not materialized (A/B in tools/r13/nnd_b_ab.json), so its
        # subtree is cloned into both sides of the center join. Safe only
        # because edges has unique (src, dst) pairs: (cos_sim desc, member)
        # is then a total order per center and both clones agree.
        b = fwd.unionByName(rev)
        cand = (
            b.select("center", F.col("member").alias("src"))
            .join(b.select("center", F.col("member").alias("dst")), "center")
            .where(F.col("src") != F.col("dst"))
            .select("src", "dst")
        )
        # dedup happens INSIDE _nnd_topk after its pinned repartition
        # (dropDuplicates == distinct on the 2-col frame), so the chain
        # needs one exchange, not distinct's + the window's
        pairs = cand.unionByName(edges.select("src", "dst"))
        edges = materialize(_nnd_topk(pairs, v, k, dedup=True))
    return edges.select(
        F.col("src").alias("vec_id"),
        F.col("dst").alias("nbr_id"),
        "cos_sim",
        "rnk",
    )


def nn_descent_recall(
    df: DataFrame,
    k: int = NND_K,
    rounds: int = NND_ROUNDS,
    seed_cap: int = NND_SEED_CAP,
) -> DataFrame:
    """Graph quality vs exact ground truth — the eval companion every
    other ANN tier already has (ann_recall): for the KMV query cap,
    intersect the node's graph neighbors with its exact top-k
    (knn_bruteforce's algorithm at the same k) and report integer
    recall basis points (n_hit * 10000 div k — exact-integer rule, no
    float recall that could ULP-flip between engines).

    The ground-truth side stays bounded exactly like knn_bruteforce:
    |queries| is hard-capped, so exact scoring is cap * N rows no
    matter the corpus; the graph side is the full NN-Descent artifact
    filtered to the cap (the filter prunes the last window's output,
    not the graph construction, which the queries' neighbors still
    need)."""
    edges = nn_descent_knn_graph(df, k=k, rounds=rounds, seed_cap=seed_cap)
    # ONE cap-row sample, materialized, feeds all three consumers
    # (ground-truth queries, the graph-side filter, the final left
    # join) — un-materialized, each consumer cloned its own full-corpus
    # TakeOrdered scan (scan audit read 4 corpus scans; now 1 — the
    # committed tools/scan_baseline.json value).
    q = materialize(_query_set(df))
    qids = q.select("q_id")
    exact = knn_bruteforce(df, k=k, queries=q).select("q_id", "vec_id")
    graph_pairs = edges.select(
        F.col("vec_id").alias("q_id"), F.col("nbr_id").alias("vec_id")
    ).join(F.broadcast(qids), "q_id")
    hits = exact.join(graph_pairs, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_hit")
    )
    return qids.join(hits, "q_id", "left").select(
        "q_id",
        F.coalesce(F.col("n_hit"), F.lit(0).cast("long")).alias("n_hit"),
        F.expr(f"coalesce(n_hit, 0) * 10000 div {k}").alias("recall_bp"),
    )


# Search parameters — replica-calibrated like the build parameters:
# B=16/H=3 reads recall@10 = 97% at sf0.01 / ~79% at sf0.1 (B=24 buys
# ~1-5 points for 1.5x the per-hop work; H=5 buys nothing — the beam
# converges within 3 hops at these corpus diameters).
NND_BEAM = 16  # beam width
NND_HOPS = 3   # fixed greedy-expansion hops; the oracle unrolls the same


def knn_graph_search(
    df: DataFrame,
    k: int = 10,
    beam: int = NND_BEAM,
    hops: int = NND_HOPS,
    rounds: int = NND_ROUNDS,
    seed_cap: int = NND_SEED_CAP,
) -> DataFrame:
    """The SERVING path of the graph tier: answer the KMV query set by
    greedy beam search over the NN-Descent graph — build (nn_descent_
    knn_graph) -> serve (this) -> eval (nn_descent_recall) is the full
    lifecycle, and this is the step that shows why a corpus materializes
    the graph at all: after the build, per-query work is O(beam * k *
    hops) scored candidates instead of O(N) — the per-query corpus scan
    every pruning tier still pays is gone.

    Per query: entry candidates = the h32-capped representatives of the
    query's Hamming<=1 probe buckets (the build's seed discipline);
    each hop expands the current beam through the graph's out-edges,
    unions the beam itself (monotone — the beam's floor never drops),
    dedups, re-scores exactly, and keeps the top ``beam``; after
    ``hops`` rounds the top-k (self excluded) is the answer, in the
    (q_id, vec_id, cos_sim, rnk) shape every knn_* tier emits.

    Replica-measured recall@10: 97% at sf0.01 / 79% at sf0.1 — ABOVE
    the graph's own edge recall@16, because the beam explores 2-3 hops
    past direct edges. Scale shape: the candidate frames are cap*beam*
    (k+1) rows at their widest — broadcast-joined to the graph and the
    corpus frame; the corpus-side work per hop is one narrow pass over
    the checkpointed (vec_id, embd, norm) frame, never a shuffle of it;
    every beam window partitions by q_id with <= beam*(k+1) rows per
    partition."""
    planes = hyperplanes()
    v = _nnd_corpus(df, planes)
    # The reps frame serves BOTH the build's seed and the entry beam —
    # materialized once here, threaded into the build (like corpus=v),
    # so the full-corpus reps window runs once per serve, not twice.
    reps = materialize(_nnd_reps(v, seed_cap))
    # nn_descent_knn_graph already returns a checkpointed frame under a
    # narrow rename select — re-materializing it would copy N*k rows
    # for nothing (review finding); the per-hop consumers recompute
    # only the projection.
    g = nn_descent_knn_graph(
        df, rounds=rounds, seed_cap=seed_cap, planes=planes, corpus=v, reps=reps
    ).select(F.col("vec_id").alias("gsrc"), F.col("nbr_id").alias("gdst"))
    # KMV query sample derived from the CHECKPOINTED v (its cast, norm
    # and bucket are the per-row values the sample needs — recomputing
    # them from the raw corpus would add a second full raw scan that
    # the final-plan scan audit cannot see), in the oracle's own shape
    # (qv AS ... FROM v). One projection + TakeOrdered, materialized
    # for the per-hop scoring broadcasts.
    qf = materialize(
        _as_queries(v, h32(F.col("vec_id").cast("string")).alias("qh"))
        .orderBy("qh", "q_id")
        .limit(N_QUERIES_CAP)
        .select("q_id", "q_embd", "q_norm", "q_bucket"),
    )
    # the shared beam loop (_beam_frontier) with the serving-path
    # asymmetry: the query side is the hard-capped KMV sample, so its
    # broadcast is hinted (an ingest batch must NOT hint — see
    # graph_admit_batch); the finale self-excludes because queries ARE
    # corpus members here
    frontier = _beam_frontier(
        qf, v, reps, g, beam, hops, hint_broadcast_queries=True, planes=planes
    )
    w = Window.partitionBy("q_id").orderBy(F.col("cs").desc(), "cand")
    return (
        frontier.where(F.col("cand") != F.col("q_id"))
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select(
            "q_id",
            F.col("cand").alias("vec_id"),
            F.col("cs").alias("cos_sim"),
            F.col("rnk").cast("int").alias("rnk"),
        )
    )


# Graph-ingest knobs (r08 verdict #3 — the ivf_index_maintenance analog
# for the NN-Descent tier). The new split (vec_id % 10 >= 8, the ingest
# convention) arrives as NND_INGEST_BATCHES deterministic micro-batches;
# rebuild triggers when CUMULATIVE admitted growth reaches 15% of the
# standing corpus (integer cross-multiply, the IVF_REFIT_GROWTH
# discipline) — at the %10 split the four batches land ~6.25/12.5/18.75/
# 25% cumulative, so both decision branches are live at every SF.
NND_INGEST_BATCHES = 4
GRAPH_REBUILD_GROWTH = (3, 20)


def _beam_frontier(
    nq: DataFrame,
    v: DataFrame,
    reps: DataFrame,
    ge: DataFrame,
    beam: int,
    hops: int,
    hint_broadcast_queries: bool = False,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """THE beam-search loop — the single implementation behind the
    serving path (``knn_graph_search``), the batch admission
    (``graph_admit_batch``) and through it the streaming loop: entry
    candidates from the query's Hamming<=1 probe-bucket reps, then
    ``hops`` rounds of expand-through-out-edges, union-the-beam,
    dedup, exact re-score, keep top-``beam``; each frontier
    materialized. Returns the final (q_id, cand, cs) frontier.

    ``nq`` must carry (q_id, q_embd, q_norm, q_bucket).
    ``hint_broadcast_queries`` encodes the one batch/serve asymmetry:
    the serving path's query set is hard-capped (N_QUERIES_CAP rows),
    so hinting its broadcast is the scale-correct plan; an ingest
    batch is corpus-fraction-sized and must be allowed to demote to a
    shuffle (the semantic_decontaminate convention). ``planes`` must
    be the SAME plane set that produced ``q_bucket``/``v.bucket`` —
    the probe masks derive from it (ADVICE r09: deriving them from a
    fresh hyperplanes() call would silently probe the wrong mask count
    for a caller bucketing with non-default planes)."""
    planes = planes or hyperplanes()
    cv = v.select(
        F.col("vec_id").alias("cand"),
        F.col("embd").alias("c_embd"),
        F.col("c_norm").alias("cv_norm"),
    )
    qside = nq.select("q_id", "q_embd", "q_norm")
    if hint_broadcast_queries:
        qside = F.broadcast(qside)

    def scored_top(pairs: DataFrame, cap: int, dedup: bool = False) -> DataFrame:
        # pinned-N repartition on q_id: the _nnd_topk rescue (narrow
        # pair bytes, CPU-heavy exact cosine — AQE coalesces the
        # exchange); one exchange then serves dedup, scoring and the
        # top-beam window
        pairs = pairs.repartition(_n_par(pairs), F.col("q_id"))
        if dedup:
            pairs = pairs.dropDuplicates(["q_id", "cand"])
        s = (
            pairs.join(qside, "q_id")
            .join(cv, "cand")
            .select(
                "q_id",
                "cand",
                _cos_pair(
                F.col("q_embd"), F.col("c_embd"), F.col("q_norm"), F.col("cv_norm")
            ).alias("cs"),
            )
        )
        w = Window.partitionBy("q_id").orderBy(F.col("cs").desc(), "cand")
        return (
            s.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= cap)
            .select("q_id", "cand", "cs")
        )

    probe_arr = F.array(
        *[F.expr(f"q_bucket ^ {m}") for m in _probe_masks(planes)]
    )
    entry = (
        nq.select("q_id", F.explode(probe_arr).alias("bucket"))
        .join(reps.select("bucket", F.col("rep_id").alias("cand")), "bucket")
        .select("q_id", "cand")
    )
    frontier = materialize(scored_top(entry, beam))
    for _ in range(hops):
        nxt = (
            frontier.select("q_id", "cand")
            .join(ge, frontier.cand == ge.gsrc)
            .select("q_id", F.col("gdst").alias("cand"))
        )
        pairs = nxt.unionByName(frontier.select("q_id", "cand"))
        frontier = materialize(scored_top(pairs, beam, dedup=True))
    return frontier


def graph_admit_batch(
    nq: DataFrame,
    v: DataFrame,
    reps: DataFrame,
    ge: DataFrame,
    k: int = NND_K,
    beam: int = NND_BEAM,
    hops: int = NND_HOPS,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """The ADMISSION core shared by ``knn_graph_ingest`` (batch) and
    ``streaming/pipeline.run_streaming_graph_ingest`` (continuous) —
    one implementation, two arrival modes (the ``admit_batch``
    discipline): beam-search each new vector of ``nq`` (q_id, q_embd,
    q_norm, q_bucket) through the standing graph ``ge`` (gsrc, gdst)
    over the standing corpus ``v`` / bucket reps ``reps``, returning
    each vector's <= k forward edges (q_id, cand, cs), materialized
    (the frame feeds four rollup consumers). Admissions read ONLY
    standing state, so they are independent across vectors — any
    micro-batching of ``nq`` yields byte-identical edges (the property
    the streaming parity test pins). No self-exclusion: new vectors
    are not in the standing corpus by construction."""
    frontier = _beam_frontier(nq, v, reps, ge, beam, hops, planes=planes)
    w = Window.partitionBy("q_id").orderBy(F.col("cs").desc(), "cand")
    return materialize(
        frontier.withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= k)
        .select("q_id", "cand", "cs"),
    )


def knn_graph_ingest(
    df: DataFrame,
    k: int = NND_K,
    beam: int = NND_BEAM,
    hops: int = NND_HOPS,
    rounds: int = NND_ROUNDS,
    seed_cap: int = NND_SEED_CAP,
    n_batches: int = NND_INGEST_BATCHES,
) -> DataFrame:
    """Graph-index maintenance under ingest — what ``ivf_index_
    maintenance`` is to the IVF tier: the standing NN-Descent graph is
    built over the STANDING corpus (vec_id % 10 < 8), and the new
    split arrives as ``n_batches`` deterministic micro-batches
    (batch_id = (vec_id div 10) % n_batches). Each new vector is
    ADMITTED via the serving tier's own beam search (``knn_graph_
    search``'s loop — the insertion primitive in every HNSW-style
    system): its final beam's top-k become its forward edges into the
    standing graph, so per-vector admission work is O(beam · k · hops)
    scored candidates — batch-proportional, never corpus-proportional,
    which is the entire point of maintaining the graph instead of
    rebuilding it.

    Per micro-batch the maintenance loop reports what a serving system
    decides on:

    * ``n_vectors`` / ``n_edges`` — admitted vectors and forward edges
      created (<= n_vectors · k);
    * ``sum_best_cos_bp`` — Σ round(best_cos · 1e4) over admitted
      vectors (integer basis points so the per-batch sum is exact and
      partition-invariant — the quantize-then-sum rule); a falling
      per-batch mean says new data is drifting away from the corpus;
    * ``n_rev_improved`` — how many found edges (x → o) BEAT standing
      node o's current worst edge (cos > min edge cos): the reverse-
      edge pressure this batch puts on the standing lists — high
      pressure means the graph's edges are going stale;
    * ``n_eval`` / ``recall_bp`` — admission-search quality drift: for
      the KMV-capped members of the batch (the family's bounded eval
      discipline), integer recall of the beam-found edges vs the exact
      top-k over the standing corpus (NULL when the cap put no member
      in this batch — integer-guarded on both engines);
    * ``cum_growth_bp`` / ``rebuild_needed`` — cumulative admitted
      growth in basis points against the standing corpus size, and the
      integer cross-multiplied rebuild decision (growth >= 3/20): a
      graph absorbs edge inserts only so long before descent quality
      decays, so past the threshold the maintenance loop schedules a
      full NN-Descent rebuild (both branches live at every SF).

    Scale shape: the standing build is the ``nn_descent_knn_graph``
    artifact (bounded per-round local joins, per-round materialization);
    admission reuses its checkpointed corpus + reps frames (the
    shared-sample discipline), and every admission join is an equi-join
    on bucket / cand / q_id over batch-bounded frames; the exact-eval
    leg is hard-capped at N_QUERIES_CAP queries; the per-batch rollup
    is an ``n_batches``-row aggregate with a window cumsum over it.
    """
    planes = hyperplanes()
    num, den = GRAPH_REBUILD_GROWTH
    full = _vectors(df)
    old = full.where(F.col("vec_id") % 10 < 8)
    # standing corpus frame (embd + norm + bucket), shared by the build,
    # the admission scoring, and the exact-eval leg (>= 2x rule)
    v = materialize(_lsh_rows(old, planes))
    reps = materialize(_nnd_reps(v, seed_cap))
    g = nn_descent_knn_graph(
        old, k=k, rounds=rounds, seed_cap=seed_cap, planes=planes, corpus=v, reps=reps
    )
    ge = g.select(F.col("vec_id").alias("gsrc"), F.col("nbr_id").alias("gdst"))
    # standing nodes' worst edge: the insertion bar a new vector must
    # beat to create reverse pressure (min cos over the <= k edges)
    worst = g.groupBy(F.col("vec_id").alias("cand")).agg(
        F.min("cos_sim").alias("worst_cos")
    )
    # new batch, enriched once (norm + bucket + micro-batch id)
    nq = materialize(
        _as_queries(
            _lsh_rows(full.where(F.col("vec_id") % 10 >= 8), planes),
            F.expr(f"CAST((vec_id div 10) % {n_batches} AS INT)").alias("batch_id"),
        ),
    )
    cv = v.select(
        F.col("vec_id").alias("cand"),
        F.col("embd").alias("c_embd"),
        F.col("c_norm").alias("cv_norm"),
    )
    found = graph_admit_batch(
        nq, v, reps, ge, k=k, beam=beam, hops=hops, planes=planes
    )
    # exact ground truth for the KMV-capped eval subset (bounded:
    # cap x |standing|, the knn_bruteforce shape); materialized — the
    # cap-row sample feeds BOTH the exact leg and the evald join (the
    # nn_descent_recall shared-sample rule; review finding)
    qcap = materialize(
        nq.select("q_id", "q_embd", "q_norm", "batch_id",
                  h32(F.col("q_id").cast("string")).alias("qh"))
        .orderBy("qh", "q_id")
        .limit(N_QUERIES_CAP)
        .select("q_id", "q_embd", "q_norm"),
    )
    xw = Window.partitionBy("q_id").orderBy(F.col("cs").desc(), "cand")
    exact = (
        qcap.join(cv)
        .select(
            "q_id",
            "cand",
            _cos_pair(
                F.col("q_embd"), F.col("c_embd"), F.col("q_norm"), F.col("cv_norm")
            ).alias("cs"),
        )
        .withColumn("rn", F.row_number().over(xw))
        .where(F.col("rn") <= k)
        .select("q_id", "cand")
    )
    hits = (
        found.join(exact, ["q_id", "cand"])
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hit"))
    )
    evald = (
        qcap.select("q_id")
        .join(hits, "q_id", "left")
        .select("q_id", F.coalesce("n_hit", F.lit(0).cast("long")).alias("n_hit"))
    )
    # per-vector rollup -> per-batch rollup
    perv = found.groupBy("q_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_edges"),
        F.round(F.max("cs") * 10000).cast("long").alias("best_cos_bp"),
    )
    # NOT broadcast-hinted: worst is a standing-corpus-sized frame
    # (one row per graph node), so at scale this equi-join correctly
    # demotes to a shuffle on cand; locally AQE broadcasts it anyway
    rev = (
        found.join(worst, "cand")
        .where(F.col("cs") > F.col("worst_cos"))
        .groupBy("q_id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_rev"))
    )
    per_batch = (
        nq.select("q_id", "batch_id")
        .join(perv, "q_id", "left")
        .join(rev, "q_id", "left")
        .join(evald, "q_id", "left")
        .groupBy("batch_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vectors"),
            F.coalesce(F.sum("n_edges"), F.lit(0)).cast("long").alias("n_edges"),
            F.coalesce(F.sum("best_cos_bp"), F.lit(0))
            .cast("long")
            .alias("sum_best_cos_bp"),
            F.coalesce(F.sum("n_rev"), F.lit(0)).cast("long").alias("n_rev_improved"),
            F.count("n_hit").cast("long").alias("n_eval"),
            F.sum("n_hit").cast("long").alias("n_hit"),
        )
    )
    n_standing = v.agg(F.count(F.lit(1)).cast("long").alias("n_standing"))
    cum_w = (
        Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        per_batch.crossJoin(F.broadcast(n_standing))
        .withColumn("cum_new", F.sum("n_vectors").over(cum_w))
        .select(
            "batch_id",
            "n_vectors",
            "n_edges",
            "sum_best_cos_bp",
            "n_rev_improved",
            "n_eval",
            F.when(
                F.col("n_eval") > 0,
                F.expr(f"n_hit * 10000 div ({k} * n_eval)"),
            ).alias("recall_bp"),
            F.expr("cum_new * 10000 div n_standing").alias("cum_growth_bp"),
            (F.col("cum_new") * den >= F.col("n_standing") * num).alias(
                "rebuild_needed"
            ),
        )
    )


# Semantic-decontamination knobs. TAU = 0.35 measured non-vacuous at
# every shipped SF (85 / 93 / 1307 all-pairs eval-train hits at
# sf0.001/0.01/0.1); the eval split is the incremental-ingest
# convention (vec_id % 10 >= 8). TOP_K bounds the REPORT, not the
# audit: on a clustered corpus a fixed cosine bar can flag nearly
# everything (the sf1.0 replica flags 15,999 of 16,000 train vectors
# at 0.35), and a 16k-row "removal list" is triage noise — production
# review works the queue strongest-evidence-first, so the query emits
# the top-K by (max_cos DESC, vec_id), TakeOrdered at any corpus size.
DECON_TAU = 0.35
DECON_TOP_K = 100


def semantic_decontaminate(
    df: DataFrame,
    tau: float = DECON_TAU,
    top_k: int = DECON_TOP_K,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """Embedding-space decontamination — the SEMANTIC twin of the
    lexical ``decontaminate`` (text_analysis): a training corpus is
    contaminated not only where it shares n-grams with the eval set but
    where it is a paraphrase — lexically disjoint, semantically
    near-identical — so a modern curation pass runs BOTH audits. Flags
    train vectors whose cosine to ANY eval vector (the
    vec_id %% 10 >= 8 split, the ingest convention) reaches ``tau``,
    and emits the ``top_k`` strongest-evidence rows
    (vec_id, n_eval_hits, max_cos) ordered by (max_cos DESC, vec_id) —
    the triage queue a human reviews first (see DECON_TOP_K: the bound
    is what keeps the report meaningful on corpora where a fixed bar
    flags nearly everything).

    Scale shape (the decontaminate discipline, embedding-grain): the
    eval side fans out through the Hamming<=1 multiprobe explode and
    meets the train side in a bucket equi-join — never all-pairs; a
    train vector lives in exactly one bucket and eval probe targets are
    distinct, so each (eval, train) pair scores at most once and the
    per-train aggregate needs no dedup. At test scale the eval side
    broadcasts and the aggregate is the only exchange; under the %10
    split the eval-probe frame is O(corpus), so past the broadcast
    threshold the join correctly demotes to a shuffle on the bucket
    key (two more exchanges — the plan guard leaves that room; a real
    deployment's eval set is a fixed small artifact and stays
    broadcast). Candidate recall is the LSH trade documented for every
    bucket-blocked tier (multiprobe lifts it the same way it lifts the
    NN-Descent seed). The corpus frame is the same materialized
    (vec_id, embd, norm, bucket) artifact the graph tier uses — eval
    and train branches read the ONE checkpoint.
    """
    planes = planes or hyperplanes()
    v = _nnd_corpus(df, planes)
    is_eval = F.col("vec_id") % 10 >= 8
    probe_arr = F.array(
        *[F.expr(f"bucket ^ {m}") for m in _probe_masks(planes)]
    )
    ev = (
        v.where(is_eval)
        .select(
            F.col("vec_id").alias("e_id"),
            F.col("embd").alias("e_emb"),
            F.col("c_norm").alias("e_norm"),
            F.explode(probe_arr).alias("bucket"),
        )
    )
    train = v.where(~is_eval)
    scored = (
        train.join(ev, "bucket")
        .select(
            "vec_id",
            _cos_pair(
                F.col("e_emb"), F.col("embd"), F.col("e_norm"), F.col("c_norm")
            ).alias("cs"),
        )
        .where(F.col("cs") >= tau)
    )
    flagged = scored.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        F.max("cs").alias("max_cos"),
    )
    # TakeOrderedAndProject: per-partition top_k heaps, driver merge —
    # the report stays O(top_k) no matter how much the bar flags.
    return flagged.orderBy(F.col("max_cos").desc(), "vec_id").limit(top_k)


# The fixed-eval variant's eval-set bound. A production decontamination
# run's eval side IS a fixed small artifact (the benchmark's own test
# split — hundreds to thousands of documents, independent of corpus
# size); 64 makes the cap BITE at every gated SF (the %10 split yields
# ~100 eval vectors at sf0.01 already).
DECON_EVAL_CAP = 64


def semantic_decontaminate_fixed(
    df: DataFrame,
    tau: float = DECON_TAU,
    top_k: int = DECON_TOP_K,
    eval_cap: int = DECON_EVAL_CAP,
    planes: list[list[float]] | None = None,
) -> DataFrame:
    """``semantic_decontaminate`` under the operator's own production
    contract (r09 verdict #4): the eval side is a FIXED bounded
    artifact, not a corpus fraction. The %10-split variant defines its
    eval set as 20% of the corpus, so the probe side grows with N and
    the sf3.0 probe measured 8.0x wall on 3x data — an artifact of the
    fixture definition, not the plan. Here the eval set is the
    ``eval_cap`` h32-smallest eval-split vectors (the KMV discipline —
    deterministic, uniform, TakeOrdered so the frame is eval_cap rows
    BY CONSTRUCTION), exactly how a real run ships its benchmark test
    split: a fixed artifact whose size never tracks the corpus.

    Scale shape: with |eval| fixed, the multiprobe explode is
    O(eval_cap · probes) rows — always broadcastable (hinted: the
    ``_beam_frontier`` capped-query asymmetry) — and the bucket
    equi-join + per-train aggregate are LINEAR in the corpus at any N;
    the sf3.0 probe measures that linearity instead of arguing it.
    Everything else (one materialized corpus frame shared by both
    sides, each (eval, train) pair scored at most once, O(top_k)
    TakeOrdered report) is the base operator's shape.
    """
    planes = planes or hyperplanes()
    v = _nnd_corpus(df, planes)
    is_eval = F.col("vec_id") % 10 >= 8
    # ONE projection over the checkpointed corpus -> TakeOrdered(cap):
    # the single-projection rule — stacked selects above the limit
    # break the TakeOrderedAndProject match
    ev_capped = (
        v.where(is_eval)
        .select(
            F.col("vec_id").alias("e_id"),
            F.col("embd").alias("e_emb"),
            F.col("c_norm").alias("e_norm"),
            F.col("bucket").alias("e_bucket"),
            h32(F.col("vec_id").cast("string")).alias("eh"),
        )
        .orderBy("eh", "e_id")
        .limit(eval_cap)
    )
    probe_arr = F.array(
        *[F.expr(f"e_bucket ^ {m}") for m in _probe_masks(planes)]
    )
    ev = F.broadcast(
        ev_capped.select(
            "e_id", "e_emb", "e_norm", F.explode(probe_arr).alias("bucket")
        )
    )
    train = v.where(~is_eval)
    scored = (
        train.join(ev, "bucket")
        .select(
            "vec_id",
            _cos_pair(
                F.col("e_emb"), F.col("embd"), F.col("e_norm"), F.col("c_norm")
            ).alias("cs"),
        )
        .where(F.col("cs") >= tau)
    )
    flagged = scored.groupBy("vec_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_eval_hits"),
        F.max("cs").alias("max_cos"),
    )
    return flagged.orderBy(F.col("max_cos").desc(), "vec_id").limit(top_k)
