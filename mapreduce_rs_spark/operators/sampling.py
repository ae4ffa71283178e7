"""Deterministic, engine-portable sampling.

``df.sample`` / ``sampleBy`` seed their RNG per partition, so their
output CHANGES with partitioning — useless for an oracle contract and
dangerous at scale (a repartition silently changes your training
sample). The portable alternative: hash-based systematic sampling —
a row is in the p% sample iff ``h(key) % m < p·m/100`` with the
md5-derived portable hash (functions/hashing.py). Properties a 100 TB
pipeline needs:

* deterministic under any partitioning, executor count, or retry;
* consistent across runs AND engines (the DuckDB oracle reproduces the
  exact sample, not just its statistics);
* stratification is free: the predicate is per-row, so per-stratum
  rates just vary the threshold;
* coordinated samples: the same key hashes identically in other tables,
  so joins of samples stay consistent (the "consistent sampling" trick).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import h32

SAMPLE_MOD = 100


def in_sample(key: Column, pct: int) -> Column:
    """True for the deterministic ``pct``% sample of rows by key."""
    return h32(key.cast("string")) % SAMPLE_MOD < pct


WEIGHTED_SAMPLE_K = 50


def weighted_sample(df: DataFrame, k: int = WEIGHTED_SAMPLE_K) -> DataFrame:
    """Weighted sampling WITHOUT replacement via the Efraimidis–Spirakis
    exponential-sort: each doc draws a deterministic uniform
    u = (h32(doc_id|"ws") + 1) / 2^32 ∈ (0, 1] and competes with key
    ln(u) / w — the top-k keys ARE a weighted sample without
    replacement, P(selection) ∝ w. Weight here is n_tokens (sample
    training docs proportional to their token mass — the quality/length
    weighted selection an SFT-set builder runs; any positive column
    works).

    Where the other sampling ops don't cover this: in_sample is
    UNWEIGHTED systematic selection; mixture_sample draws WITH repeats
    to hit target proportions. This is the "pick k docs, heavier docs
    proportionally more likely, no duplicates" primitive.

    Determinism: u is an exact rational (both engines compute the same
    double), ln follows the skipgram_pmi portability precedent, and the
    division by an integer weight is a single IEEE op. The top-k is
    orderBy+limit — TakeOrderedAndProject, a cap-row heap per partition
    with NO global sort, O(k) driver merge at any corpus size. The
    ordering key is round(key, 9) with doc_id tie-break (the tfidf
    float-rank discipline), so an ulp of libm disagreement cannot flip
    a rank. Floats never appear in the OUTPUT: (doc_id, lang, n_tokens,
    rnk) are all exact."""
    from mapreduce_rs_spark.functions.text import word_tokens

    u = (
        h32(F.concat(F.col("doc_id").cast("string"), F.lit("|ws"))) + 1
    ) / F.lit(4294967296.0)
    scored = df.select(
        "doc_id",
        "lang",
        F.size(word_tokens("text")).alias("n_tokens"),
        u.alias("u"),
    ).where(F.col("n_tokens") > 0)
    top = (
        scored.select(
            "doc_id",
            "lang",
            "n_tokens",
            F.round(F.log("u") / F.col("n_tokens"), 9).alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(k)
    )
    w = Window.orderBy(F.col("es_key").desc(), "doc_id")
    return top.select(
        "doc_id", "lang", "n_tokens", F.row_number().over(w).alias("rnk")
    )


def stratified_sample_summary(df: DataFrame, pct: int = 10) -> DataFrame:
    """Per-language accounting of a deterministic ``pct``% document
    sample: totals, sampled counts, sampled char volume, and the
    realized rate (hash-systematic sampling is close to but not exactly
    pct% — the realized-rate column is the sanity check a pipeline
    monitors)."""
    sampled = F.when(in_sample(F.col("doc_id"), pct), 1).otherwise(0)
    return (
        df.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(sampled).cast("long").alias("n_sampled"),
            F.sum(F.when(sampled == 1, F.col("n_chars")).otherwise(0)).cast("long").alias("sampled_chars"),
            (F.sum(sampled).cast("double") / F.count(F.lit(1))).alias("realized_rate"),
        )
    )
