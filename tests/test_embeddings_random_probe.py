"""Randomized three-way probe for the embeddings-family registry: Spark
and DuckDB run the same registry query + oracle SQL over a RANDOM
embeddings table — the similarity/ANN/drift family's first randomized
parity sweep (docs/events/relational each have one; the embeddings
family only ever saw the fixed corpus).

Hazards this generates on purpose, none of which the shipped corpus
exercises: exact duplicate vectors (cosine TIES in every top-k — the
(cos DESC, vec_id) tie-break must agree across engines), near-identical
vectors (1e-4 one-dim perturbation: semdedup / near-dup candidates
whose float chains must land bit-compatibly), tiny-norm vectors
(1e-3 scale — division stability in cosine), coordinates at exact
half-micro-unit quantization boundaries (round(x * 1e6) half-away-from-
zero agreement, the label_centroid_drift / ivf maintenance
arithmetic), and a skewed label distribution (one label with a single
member — drift denominators at their minimum).
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from mapreduce_rs_spark.plans.registry import QUERIES, queries
from tests.parity import assert_frames_match, run_oracle

EMB_QUERIES = (
    "lsh_buckets",
    "knn_bruteforce",
    "knn_lsh",
    "knn_ivf",
    "knn_ivf_multiprobe",
    # the swap served: duplicate vectors make integer-dot argmax ties
    # in BOTH the corpus and query assignment under the refit state,
    # and cosine ties in the re-rank boundary
    "knn_ivf_refit",
    "knn_ivfpq",
    "knn_pq",
    "knn_pca",
    "ivf_histogram",
    "ivf_index_maintenance",
    "pq_code_histogram",
    "pq_reconstruction_error",
    "array_functions_showcase",
    "embedding_near_dup",
    # derived-plane variant: the random N (150) drives the plane-count
    # CASE chain through a branch the fixed corpus never hits (p=3),
    # duplicate vectors make round(cos,9) ties at the per-vec_a cap
    # boundary (vec_b tie-break must cut identically), and tiny-norm
    # vectors exercise the integer cross-multiply near dt ~ 0
    "embedding_near_dup_derived",
    # its recall harness: the planted duplicates give exact-top ties
    # AND guaranteed co-bucket hits; random N drives the plane chain
    "embedding_near_dup_eval",
    "semdedup",
    "ann_recall",
    "ann_ranking_metrics",
    "ann_rank_fusion",
    "label_centroid_drift",
    "embedding_outliers",
    # graph tier: duplicate vectors put cosine TIES inside both the
    # seed top-k and every descent round's re-rank; the (cos DESC, id)
    # tie-break must agree across engines through 3 rounds of
    # fixed-point iteration for the hashes to match
    "nn_descent_knn_graph",
    "nn_descent_recall",
    # serving path: ties must also survive the beam's monotone
    # union-dedup-rescore loop and the final self-exclusion
    "knn_graph_search",
    # duplicate/near-identical vectors straddling the eval split make
    # max_cos ties at the top-K boundary; (max_cos DESC, vec_id) must
    # cut identically in both engines
    "semantic_decontaminate",
    # fixed-eval variant: the random N (150 -> 30 eval vectors) sits
    # UNDER the 64 cap, pinning the cap-as-upper-bound branch; the
    # same tie hazards apply at the top-K boundary
    "semantic_decontaminate_fixed",
    # distributed refit: random coordinates hit half-micro-unit round
    # boundaries in the quantization AND the renormalized centroid
    # re-quantization; assignment argmax ties (duplicate vectors) must
    # break to the higher cid identically through both Lloyd rounds
    "kmeans_refit_distributed",
    # its eval: duplicate vectors make exact cosine-bp ties; the
    # two-model argmax (init literals vs refit state) must land the
    # same winners through both engines
    "kmeans_refit_eval",
    # derived-k semdedup: duplicate vectors make integer-dot argmax
    # ties in the data-seeded rounds AND exact tau-boundary pairs in
    # the cross-multiplied drop test (a duplicate pair hits cos == 1,
    # a tiny-norm pair stresses the zero-norm seed filter); k derives
    # from the random N (150 -> 5 clusters, a never-shipped k)
    "semdedup_derived_k",
    # ingest-audit: the duplicate pairs straddle the %10 split so the
    # admission gate sees exact cos == 1 standing hits; the random
    # standing N (120) drives the fit's k/p CASE chains through
    # never-shipped branches
    "semdedup_ingest_audit",
    # ingest maintenance: duplicate vectors straddle the %10 split, so
    # cosine TIES appear in the admission beam, the worst-edge bar
    # (cs > worst is an exact-equality boundary for a duplicate of a
    # standing node), and the capped-eval exact top-k
    "knn_graph_ingest",
)

SEED = 1729
N_VECS = 150
DIM = 64


def _random_embeddings() -> pd.DataFrame:
    rng = np.random.RandomState(SEED)
    vecs = rng.normal(0.0, 1.0, size=(N_VECS, DIM)).astype(np.float32)
    # exact duplicates: cosine ties through every ranking chain
    vecs[50] = vecs[10]
    vecs[51] = vecs[11]
    vecs[52] = vecs[12]
    # near-identical: one-dim 1e-4 perturbation (near-dup candidates)
    vecs[60] = vecs[20]
    vecs[60][0] += np.float32(1e-4)
    vecs[61] = vecs[21]
    vecs[61][3] += np.float32(1e-4)
    # tiny-norm vectors: cosine denominators near the float floor
    vecs[70] = (vecs[70] * np.float32(1e-3)).astype(np.float32)
    vecs[71] = (vecs[71] * np.float32(1e-3)).astype(np.float32)
    # exact half-micro-unit quantization boundaries for round(x * 1e6):
    # 2.5e-6 and -7.5e-6 (as float32) must round away from zero in BOTH
    # engines through the identical float32 -> double cast
    vecs[80][:4] = np.float32(2.5e-6)
    vecs[80][4:8] = np.float32(-7.5e-6)
    labels = rng.randint(0, 7, size=N_VECS)
    labels[140:] = 7  # a small-but-plural label
    labels[149] = 8  # a single-member label (drift n_vecs = 1)
    return pd.DataFrame(
        {
            "vec_id": np.arange(1, N_VECS + 1, dtype=np.int64),
            "embedding": [v.tolist() for v in vecs],
            "label": labels.astype(np.int32),
        }
    )


@pytest.fixture(scope="module")
def random_emb_dir(tmp_path_factory):
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("random_emb_catalog")
    src = os.path.abspath("/root/testdata/sf0.001")
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    pdf = _random_embeddings()
    table = pa.table(
        {
            "vec_id": pa.array(pdf["vec_id"], pa.int64()),
            "embedding": pa.array(pdf["embedding"], pa.list_(pa.float32())),
            "label": pa.array(pdf["label"], pa.int32()),
        }
    )
    pq.write_table(table, d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", EMB_QUERIES)
def test_emb_query_matches_oracle_on_random_vectors(spark, random_emb_dir, name):
    spdf = queries()[name](spark, random_emb_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, random_emb_dir)
    assert_frames_match(spdf, oracle_pdf, f"{name}[random-emb]")


# ---------------------------------------------------------------------------
# Zero-norm semantics (r10 ADVICE #1): base semdedup's float _cos_pair
# yields NULL for a zero vector and KEEPS the pair; the integer
# cross-multiply variants must agree via the explicit na/nb > 0 guard
# (without it, 0 >= 0 marks every same-cluster/same-bucket zero-vector
# pair a duplicate). The shipped corpus has no zero vector, so this
# fixture pins the contract — on BOTH engines.
# ---------------------------------------------------------------------------


def _zero_norm_catalog(d, labels: np.ndarray) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    src = os.path.abspath("/root/testdata/sf0.001")
    for t in (
        "region nation customer supplier part orders lineitem events documents"
    ).split():
        os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    rng = np.random.RandomState(77)
    vecs = rng.normal(0.0, 1.0, size=(40, DIM)).astype(np.float32)
    vecs[5] = np.zeros(DIM, dtype=np.float32)   # exact zero vector
    vecs[6] = np.zeros(DIM, dtype=np.float32)   # second zero: a (0, 0) pair
    vecs[20] = vecs[10]                          # exact duplicate: a real drop
    table = pa.table(
        {
            "vec_id": pa.array(np.arange(1, 41, dtype=np.int64), pa.int64()),
            "embedding": pa.array([v.tolist() for v in vecs], pa.list_(pa.float32())),
            "label": pa.array(labels, pa.int32()),
        }
    )
    pq.write_table(table, d / "embeddings.parquet")
    return str(d)


@pytest.fixture(scope="module")
def zero_norm_dir(tmp_path_factory):
    return _zero_norm_catalog(
        tmp_path_factory.mktemp("zero_norm_catalog"), np.zeros(40, dtype=np.int32)
    )


@pytest.fixture(scope="module")
def zero_label_dir(tmp_path_factory):
    """The zero-norm corpus with its two zero vectors (ids 6, 7) alone
    in label 1: a label whose centroid sum is the zero vector."""
    labels = np.zeros(40, dtype=np.int32)
    labels[[5, 6]] = 1
    return _zero_norm_catalog(tmp_path_factory.mktemp("zero_label_catalog"), labels)


@pytest.mark.parametrize(
    "name", ["semdedup_derived_k", "embedding_near_dup_derived"]
)
def test_zero_norm_vectors_are_kept_not_dropped(spark, zero_norm_dir, name):
    spdf = queries()[name](spark, zero_norm_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, zero_norm_dir)
    assert_frames_match(spdf, oracle_pdf, f"{name}[zero-norm]")
    if name == "semdedup_derived_k":
        # the two zero vectors + the duplicate: exactly ONE drop total
        # (the higher-id duplicate copy); a missing guard would also
        # drop a zero vector wherever a smaller-id zero/any vector
        # shares its cluster
        assert int(spdf["n_dropped"].sum()) == 1
    else:
        # no pair row may involve a zero-norm vector (cosine undefined)
        assert not spdf["vec_a"].isin([5, 6]).any()
        assert not spdf["vec_b"].isin([5, 6]).any()
        # the cos -> 1 guarantee: an exact duplicate co-buckets with
        # probability 1 at ANY plane count, and with pop <= rep_cap
        # every vector is a rep, so the planted pair (11, 21)
        # (vecs[10] == vecs[20], 1-based ids) must appear in BOTH
        # directions of the directed partner contract
        pairs = set(zip(spdf["vec_a"], spdf["vec_b"]))
        assert (11, 21) in pairs and (21, 11) in pairs


@pytest.mark.parametrize(
    "name",
    [
        "kmeans_refit_eval",
        "kmeans_refit_distributed",
        "knn_ivf_refit",
        "semdedup_ingest_audit",
    ],
)
def test_zero_norm_corpus_matches_oracle(spark, zero_norm_dir, name):
    """The rest of the integer micro-unit family over the zero-vector
    corpus: a zero vector's cosine to its centroid is 0/0, which must be
    NULL on both engines (kmeans_refit_eval drops that vector's bp from
    its sums, as DuckDB's double division does) rather than an ANSI
    divide-by-zero error, and the refit, serve and ingest-audit rows
    must equal the oracle's."""
    spdf = queries()[name](spark, zero_norm_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, zero_norm_dir)
    assert_frames_match(spdf, oracle_pdf, f"{name}[zero-norm]")


def test_zero_norm_label_drift_matches_oracle(spark, zero_label_dir):
    """label_centroid_drift over a label made only of zero vectors: its
    cosine to the global centroid is 0/0, which must be NULL on both
    engines (DuckDB's division returns NULL) rather than an ANSI
    divide-by-zero error; the other label's row is unaffected."""
    name = "label_centroid_drift"
    spdf = queries()[name](spark, zero_label_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, zero_label_dir)
    assert_frames_match(spdf, oracle_pdf, f"{name}[zero-label]")
    zero = spdf[spdf["label"] == 1].iloc[0]
    assert zero["n_vecs"] == 2 and pd.isna(zero["cos_to_global"])
