"""Randomized three-way probe for the documents-family registry: Spark
and DuckDB run the same registry query + oracle SQL over a RANDOM
documents table — word-soup texts with injected punctuation, every
ASCII whitespace variant (incl. \\x0B, the dialect divergence the fixed
corpus can't re-catch), empty and NULL documents, exact duplicates,
and near-duplicates one token apart (so the dedup/LSH paths generate
real candidates). Companion to tests/test_event_random_probe.py.
"""

from __future__ import annotations

import os
import random

import pandas as pd
import pytest

from mapreduce_rs_spark.plans.registry import QUERIES, queries
from tests.parity import assert_frames_match, run_oracle

DOC_QUERIES = (
    "wordcount",
    "wordcount_salted",
    "wordcount_topk",
    "bigrams",
    "bigram_pmi",
    "skipgram_pmi",
    "tfidf_top_terms",
    "token_count",
    "doc_stats",
    "quality_score",
    "language_id",
    "top_terms_per_lang",
    "dedup_exact",
    "minhash_signatures",
    "minhash_lsh_pairs",
    "simhash_signatures",
    "simhash_near_pairs",
    "winnow_fingerprints",
    "jaccard_pairs",
    "dedup_components",
    "corpus_profile",
    "chunk_documents",
    "cdc_chunk_dedup",
    "repetition_signals",
    "boilerplate_ngrams",
    "stratified_sample_summary",
    "vocab_coverage",
    "mixture_sample",
    "term_drift",
    "lsh_dedup_eval",
    "png_decode_stats",
    "bmp_decode_stats",
    "multimodal_features",
    "wav_decode_stats",
    "gif_frame_stats",
    "video_frame_sample",
    "leakage_safe_splits",
    "pii_scrub_stats",
    "incremental_ingest_dedup",
    "incremental_ingest_neardup",
    "lsh_scurve_calibration",
    "bpe_merge_candidates",
    "unigram_surprisal_scores",
    "bigram_surprisal_scores",
    "jpeg_decode_stats",
    "dsir_importance_weights",
    "bpe_train_merges",
    "bpe_encode_stats",
    "weighted_sample",
    "cms_word_counts",
    "temperature_mixture",
    "duplicate_spans",
    "feature_hashing_stats",
    "wav_frame_features",
    "ngram_containment_pairs",
    "prefix_filter_jaccard_pairs",
    "language_id_confusion",
    "oov_rate_scores",
    "domain_stats",
    "token_budget_allocation",
    "k_anonymity_audit",
    "bm25_scores",
    # probe-coverage completion (r08 second batch): every docs-family
    # registry query now runs on the random corpus
    "curation_yield",
    "curation_yield_neardup",
    "curation_yield_signals",
    "decontaminate",
    "mixture_weights",
    "pack_sequences",
    "rdd_wordcount",
    "wordcount_mapreduce_udf",
    "source_extraction",
    # r08 second batch: the real-resample round-trip must hold on
    # random texts (every width/height residue class, empty docs)
    "image_resize_stats",
)

SEED = 813
N_DOCS = 120
VOCAB = (
    "alpha beta gamma delta epsilon zeta eta theta iota kappa "
    "lam mu nu xi omicron pi rho sigma tau upsilon"
).split()
WS = [" ", "  ", "\t", "\n", "\x0b", "\f", "\r", " \t "]
PUNCT = ["", "", "", ",", ".", "!", "?", ";", "'s", '"']


def _text(rng: random.Random) -> str:
    n = rng.randint(5, 60)
    parts = []
    for _ in range(n):
        parts.append(rng.choice(VOCAB) + rng.choice(PUNCT))
        parts.append(rng.choice(WS))
    return "".join(parts)


def _random_documents() -> pd.DataFrame:
    rng = random.Random(SEED)
    langs = ["en", "de", "fr", "es", "it"]
    sources = [f"https://site{i}.example/path{i}" for i in range(6)]
    rows = []
    for doc_id in range(N_DOCS):
        t = _text(rng)
        rows.append((doc_id, t, rng.choice(langs), rng.choice(sources), len(t)))
    # Exact duplicates (dedup_exact / corpus_profile's dup-rate).
    for i in range(5):
        src = rows[i]
        rows.append((N_DOCS + i, src[1], src[2], src[3], src[4]))
    # Near-duplicates: one token appended (MinHash/SimHash candidates).
    for i in range(5):
        src = rows[10 + i]
        t = src[1] + " omega"
        rows.append((N_DOCS + 5 + i, t, src[2], src[3], len(t)))
    # Empty and whitespace-only documents.
    rows.append((N_DOCS + 10, "", "en", sources[0], 0))
    rows.append((N_DOCS + 11, " \t\n\x0b ", "de", sources[1], 6))
    # A NULL document: every query reads it as '' (no tokens, no bytes).
    rows.append((N_DOCS + 13, None, "fr", sources[2], 0))
    # Incremental-ingest shapes (incremental_ingest_dedup splits on
    # doc_id % 10: >= 8 is "the incoming batch"): a batch-resident copy
    # of a corpus doc (id 138 dups id 3 -> n_dup_vs_corpus), and two
    # batch-resident copies of each other (ids 158/168 ->
    # n_dup_in_batch + one admitted winner).
    rows.append((138, rows[3][1], rows[3][2], rows[3][3], rows[3][4]))
    rows.append((158, rows[7][1] + " echo", rows[7][2], rows[7][3], len(rows[7][1]) + 5))
    rows.append((168, rows[7][1] + " echo", rows[7][2], rows[7][3], len(rows[7][1]) + 5))
    # The slide's edges: 1, 2 and 3 tokens (no 2-gram, one 2-gram / no
    # 3-gram, one 3-gram), a leading-whitespace split ('' first), a
    # punctuation-only text (cleans to '') and punctuation between words.
    for i, t in enumerate(
        ["alpha", "beta gamma", "delta epsilon zeta", "\t\x0b  eta theta",
         "?!, ;.'\"", "iota, kappa.lam !mu"]
    ):
        rows.append((N_DOCS + 20 + i, t, langs[i % 5], sources[i % 6], len(t)))
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


@pytest.fixture(scope="module")
def random_docs_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("random_docs_catalog")
    src = os.path.abspath("/root/testdata/sf0.001")
    for t in (
        "region nation customer supplier part orders lineitem events embeddings"
    ).split():
        os.symlink(os.path.join(src, f"{t}.parquet"), d / f"{t}.parquet")
    _random_documents().to_parquet(d / "documents.parquet", index=False)
    return str(d)


@pytest.mark.parametrize("name", DOC_QUERIES)
def test_doc_query_matches_oracle_on_random_corpus(spark, random_docs_dir, name):
    spdf = queries()[name](spark, random_docs_dir).toPandas()
    oracle_pdf = run_oracle(QUERIES[name].oracle, random_docs_dir)
    assert_frames_match(spdf, oracle_pdf, f"{name}[random-docs]")
