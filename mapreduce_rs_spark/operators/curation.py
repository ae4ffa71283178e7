"""End-to-end training-data curation pipeline.

The capstone composition: the individual operators (quality scoring,
language filtering, exact dedup, token counting) chained the way a real
pretraining-data pipeline chains them, as ONE declarative plan — so
Catalyst fuses the narrow stages, the only shuffles are the dedup
groupBy and the final per-language rollup, and every intermediate
column is pruned the moment it stops being referenced.

Pipeline: documents
  → quality gates (token count, alpha ratio)
  → language allowlist
  → exact dedup (md5 fingerprint, keep min doc_id)
  → per-language yield accounting (docs kept, tokens kept, drop rates).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import h32, text_fingerprint
from mapreduce_rs_spark.functions.text import word_tokens

MIN_TOKENS = 10
MIN_ALPHA_RATIO = 0.5
ALLOWED_LANGS = ("de", "en", "es", "fr", "zh")


def curated_documents(df: DataFrame, *, keep_text: bool = False) -> DataFrame:
    """The surviving documents after quality → language → dedup gates,
    with their token counts. Dedup keeps the smallest doc_id per
    fingerprint via a window min — no second join against the corpus.
    ``keep_text=True`` carries the text column through for downstream
    stages that re-tokenize (the near-dup cluster pass)."""
    toks = word_tokens("text")
    gated = (
        df.withColumn("n_tokens", F.size(toks))
        .withColumn(
            "alpha_ratio",
            F.try_divide(F.length(F.regexp_replace("text", r"[^\w]", "")), F.length("text")),
        )
        .where(
            (F.col("n_tokens") >= MIN_TOKENS)
            & (F.col("alpha_ratio") >= MIN_ALPHA_RATIO)
            & F.col("lang").isin(*ALLOWED_LANGS)
        )
    )
    w = Window.partitionBy(text_fingerprint("text"))
    cols = ["doc_id", "lang", "n_tokens"] + (["text"] if keep_text else [])
    return (
        gated.withColumn("keep_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keep_id"))
        .select(*cols)
    )


def _yield_report(df: DataFrame, kept: DataFrame) -> DataFrame:
    """Per-language yield accounting over a surviving-doc set."""
    totals = df.groupBy("lang").agg(F.count("*").alias("n_docs_in"))
    survived = kept.groupBy("lang").agg(
        F.count("*").alias("n_docs_kept"),
        F.sum("n_tokens").alias("n_tokens_kept"),
    )
    return (
        totals.join(survived, "lang", "left")
        .select(
            "lang",
            "n_docs_in",
            F.coalesce("n_docs_kept", F.lit(0)).alias("n_docs_kept"),
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            F.try_divide(F.coalesce("n_docs_kept", F.lit(0)), F.col("n_docs_in")).alias("keep_rate"),
        )
    )


def curation_yield(df: DataFrame) -> DataFrame:
    """Per-language curation accounting: input docs vs surviving docs
    and tokens — the yield report every data-curation run ends with."""
    return _yield_report(df, curated_documents(df))


PACK_TOKEN_BUDGET = 512


def pack_sequences(df: DataFrame, budget: int = PACK_TOKEN_BUDGET) -> DataFrame:
    """Sequence packing: assign curated documents to fixed-token-budget
    training bins — the step between curation and tokenizer sharding in
    a pretraining pipeline (short documents are concatenated up to the
    context length so no compute is wasted on padding).

    Deterministic streaming packing per language: documents in doc_id
    order; a document goes in bin floor(preceding_cum_tokens / budget).
    That's the classic one-pass packing approximation expressed as a
    window cumsum — one shuffle on lang, no loop, no UDF. (True bin
    packing is NP-hard; production packers use exactly this greedy
    stream shape.) A document that crosses a budget boundary stays in
    (and overflows) the bin where it STARTED — the ``overshoot`` column
    reports by how much — and the following document opens the next
    bin. A single document longer than several budgets occupies one bin
    and the bin numbering jumps past the boundaries it spanned.

    Output: per (lang, bin) doc count, token sum, and budget overshoot
    — all integers, so the oracle comparison is exact by construction.
    """
    # one-small-file rescue (r07 one-task sweep: the gate's tokenize +
    # fingerprint leg ran one-task on a single-split corpus; wrapped
    # HERE rather than inside curated_documents to keep the blast
    # radius to this query; no-op at scale)
    from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

    kept = curated_documents(ensure_parallelism(df))
    w = (
        Window.partitionBy("lang")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    prev_cum = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
    binned = kept.withColumn("bin", F.floor(prev_cum / budget))
    return (
        binned.groupBy("lang", "bin")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
        .withColumn("overshoot", F.greatest(F.col("n_tokens") - budget, F.lit(0)).cast("long"))
    )


MAX_DUP_TOKEN_RATIO = 0.6
MAX_BOILERPLATE_RATIO = 0.35


def curation_yield_signals(df: DataFrame) -> DataFrame:
    """Capstone v3: the round-4 signal gates composed onto the curation
    pipeline — quality → language → exact dedup (curated_documents) →
    within-doc repetition gate (dup_token_ratio) → cross-doc
    boilerplate gate (boilerplate_ratio) → per-language yield.

    This is the Gopher/C4 filter ordering: corpus-wide boilerplate
    detection runs over ALL documents (the df>=min_docs gram set must
    see the full corpus — a template is boilerplate because OTHER
    documents repeat it, including ones the quality gates drop), then
    per-document thresholds prune the curated survivors. All three
    signal joins are on doc_id, so the gates co-partition; survivors of
    the n_tokens gate always have non-NULL ratios (>= MIN_TOKENS
    tokens ⇒ both denominators positive). Thresholds are calibrated to
    the synthetic corpus (sf0.01 medians ~0.54 dup / ~0.27 boiler) so
    the gates exercise real drops; production corpora tune them per
    distribution, same plan."""
    from mapreduce_rs_spark.operators.text_analysis import (
        boilerplate_ngrams,
        repetition_signals,
    )

    rep = repetition_signals(df).select("doc_id", "dup_token_ratio")
    boil = boilerplate_ngrams(df).select("doc_id", "boilerplate_ratio")
    kept = (
        curated_documents(df)
        .join(rep, "doc_id")
        .join(boil, "doc_id")
        .where(
            (F.col("dup_token_ratio") <= MAX_DUP_TOKEN_RATIO)
            & (F.col("boilerplate_ratio") <= MAX_BOILERPLATE_RATIO)
        )
        .select("doc_id", "lang", "n_tokens")
    )
    return _yield_report(df, kept)


def mixture_weights(
    df: DataFrame, lang_targets: dict[str, float] | None = None
) -> DataFrame:
    """Training-mixture sampling weights per (lang, source) bucket.

    A pretraining run rarely samples the corpus as-is: it targets a
    mixture (uniform over languages by default) and needs, per bucket,
    the sampling weight that achieves the target and the expected epoch
    count over that bucket's tokens (weight > 1 means the bucket
    repeats; DoReMi-style reweighting is exactly this shape with
    learned targets). ``lang_targets`` supplies a custom per-language
    target mix (fractions; languages absent from the map get NULL
    shares/weights — surface the config gap, don't guess); at scale the
    map is a broadcast-joined config table, same arithmetic.

    target_share for a bucket = (1 / n_langs) · (bucket tokens /
    lang tokens): languages get equal total weight, sources keep their
    natural proportion within the language. expected_epochs =
    target_share · corpus_tokens / bucket_tokens = corpus / (n_langs ·
    lang tokens) — how many passes over the bucket one corpus-sized
    sample makes.

    Scale shape: one partial→final aggregate to the (lang, source)
    grain — output rows = bucket count, thousands at most — then
    unpartitioned window sums over that tiny result (a single-partition
    exchange of the AGGREGATE, never the corpus). Integer token sums;
    the ratios are single double divisions of exact integers, so both
    engines produce bit-identical values.
    """
    toks = word_tokens("text")
    buckets = (
        df.withColumn("n_tokens", F.size(toks))
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("n_tokens"),
        )
    )
    all_w = Window.partitionBy()
    lang_w = Window.partitionBy("lang")
    total = F.sum("n_tokens").over(all_w)
    lang_total = F.sum("n_tokens").over(lang_w)
    n_langs = F.size(F.collect_set("lang").over(all_w))
    actual_share = F.try_divide(F.col("n_tokens").cast("double"), total)
    if lang_targets is None:
        # Uniform-over-languages default — the oracle-contract shape.
        target_share = F.try_divide(
            F.col("n_tokens").cast("double"), n_langs * lang_total
        )
    else:
        tmap = F.create_map(
            *[F.lit(x) for kv in sorted(lang_targets.items()) for x in kv]
        )
        target_share = tmap[F.col("lang")] * F.try_divide(
            F.col("n_tokens").cast("double"), lang_total
        )
    return buckets.select(
        "lang",
        "source",
        "n_docs",
        "n_tokens",
        actual_share.alias("actual_share"),
        target_share.alias("target_share"),
        F.try_divide(target_share, actual_share).alias("weight"),
        F.try_divide(total * target_share, F.col("n_tokens")).alias("expected_epochs"),
    )


def temperature_mixture(df: DataFrame) -> DataFrame:
    """Temperature-scaled (α=0.5) language sampling shares — the
    XLM-R/mBERT multilingual recipe: p_l ∝ n_l^α upweights low-resource
    languages relative to their natural token share without going fully
    uniform (mixture_weights' default). Reports, per language: token
    mass, natural share, temperature share, and the boost factor
    (temp/natural > 1 exactly for below-average-mass languages).

    Float-determinism design (the toolbox's new member): n^0.5 = sqrt —
    an IEEE-754 CORRECTLY-ROUNDED op in both engines (unlike ln/pow) —
    then the irrational q_l = sqrt(n_l) is ROUNDED TO 6 DECIMALS AND
    ACCUMULATED AS DECIMAL(38,6), so the denominator Σq is exact and
    order-independent (a double Σ of irrationals would depend on
    accumulation order — the hazard the decimal detour removes). The
    shares are then single double divisions of exactly-agreed values.

    Scale shape: one partial→final aggregate to the language grain;
    the window sums run over that languages-sized result (the
    mixture_weights precedent)."""
    toks = word_tokens("text")
    langs = (
        df.withColumn("n_tokens", F.size(toks))
        .groupBy("lang")
        .agg(F.sum("n_tokens").cast("long").alias("n_tokens"))
    )
    w = Window.partitionBy()
    qdec = F.round(F.sqrt(F.col("n_tokens")), 6).cast("decimal(38,6)")
    total = F.sum("n_tokens").over(w)
    qsum = F.sum(qdec).over(w)
    natural = F.col("n_tokens").cast("double") / total
    temp = qdec.cast("double") / qsum.cast("double")
    return langs.select(
        "lang",
        "n_tokens",
        natural.alias("natural_share"),
        temp.alias("temp_share"),
        (temp / natural).alias("boost"),
    )


def curation_yield_neardup(df: DataFrame) -> DataFrame:
    """Capstone v2: the full near-dup-aware curation pipeline —
    quality gates → language allowlist → EXACT dedup → NEAR-dup cluster
    dedup (MinHash-LSH pairs over the survivors → connected components
    → keep each cluster's min doc_id) → per-language yield.

    This is the composition a production pretraining pipeline runs:
    exact dedup removes byte-identical copies cheaply first, the LSH
    pass then clusters the remaining near-copies (edit-distance
    survivors, boilerplate variants) transitively — A~B, B~C collapses
    {A,B,C} even when A,C never co-band. Every stage is the
    already-oracle-checked operator; the oracle replicates the whole
    composition including the transitive closure (recursive CTE).

    NOTE: unlike the registry's other (lazy) queries, calling this
    EXECUTES the pipeline — the connected-components iteration must run
    jobs to detect convergence, and the survivor set is materialized
    (operators/materialize.py). The returned DataFrame is the final yield report
    over that frozen result, which is the semantics an iterative
    algorithm has to have."""
    from mapreduce_rs_spark.operators.dedup import minhash_lsh_pairs
    from mapreduce_rs_spark.operators.graph import connected_components
    from mapreduce_rs_spark.operators.materialize import materialize

    kept = materialize(curated_documents(df, keep_text=True))
    comp = connected_components(minhash_lsh_pairs(kept))
    final = (
        kept.join(comp, "doc_id", "left")
        .where(F.col("component").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id", "lang", "n_tokens")
    )
    return _yield_report(df, final)


def mixture_sample(df: DataFrame) -> DataFrame:
    """Materialized-mixture accounting: apply the uniform-over-language
    sampling weights (mixture_weights' default target) to actual
    documents and count what a sampler would emit — integer copies per
    document, fractional parts resolved by a deterministic per-doc hash
    draw. This is the step AFTER deciding weights: proving the sampler
    realizes them, with repeats (weight > 1) handled by construction.

    Per document: copies = floor(w) + [h32(doc_id|mix) mod 10^4 <
    frac_bp] — the same hash-systematic trick as sampling.py, so the
    materialized sample is identical under any partitioning, run, or
    engine (df.sample could never provide this). Both floor(w) and the
    basis-point threshold frac_bp are PURE INTEGER arithmetic on the
    token counts (w = N/D with N = corpus_tokens, D = n_langs ·
    lang_tokens: floor(w) = N div D, frac_bp = (N mod D)·10^4 div D) —
    the repo's integer-cross-multiply discipline for thresholds, so a
    boundary-straddling weight can never flip between engines the way a
    double floor((w - floor(w))·10^4) could. Overflow headroom: the
    product (N mod D)·10^4 < D·10^4 needs D < 2^63/10^4 ≈ 9.2e14 —
    ~37x above a 100 TB corpus (2.5e13 tokens) even at n_langs = 1.
    The reported ``weight`` column stays the single double division
    (display value, identical expression both engines).

    Returns per (lang, source): n_docs, weight, n_copies (what the
    sampler emits), realized_epochs = n_copies / n_docs — the Monte
    Carlo realization of mixture_weights' expected_epochs.
    """
    toks = word_tokens("text")
    docs = df.select(
        "doc_id", "lang", "source", F.size(toks).alias("n_tokens")
    )
    lang_tok = docs.groupBy("lang").agg(
        F.sum("n_tokens").cast("long").alias("lang_tokens")
    )
    totals = lang_tok.agg(
        F.sum("lang_tokens").cast("long").alias("corpus_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_langs"),
    )
    weighted = (
        docs.join(F.broadcast(lang_tok), "lang")
        .crossJoin(F.broadcast(totals))
        .withColumn(
            "weight",
            F.col("corpus_tokens").cast("double")
            / (F.col("n_langs") * F.col("lang_tokens")),
        )
    )
    whole = F.expr("corpus_tokens div (n_langs * lang_tokens)")
    frac_bp = F.expr(
        "((corpus_tokens % (n_langs * lang_tokens)) * 10000)"
        " div (n_langs * lang_tokens)"
    )
    draw = h32(F.concat(F.col("doc_id").cast("string"), F.lit("|mix"))) % 10000
    copies = (whole + F.when(draw < frac_bp, 1).otherwise(0)).cast("long")
    return (
        weighted.withColumn("n_copies", copies)
        .groupBy("lang", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.min("weight").alias("weight"),
            F.sum("n_copies").cast("long").alias("n_copies"),
            (F.sum("n_copies").cast("double") / F.count(F.lit(1))).alias(
                "realized_epochs"
            ),
        )
    )


def leakage_safe_splits(
    df: DataFrame, train_pm: int = 900, val_pm: int = 50
) -> DataFrame:
    """Train/val/test assignment that near-duplicates CANNOT straddle —
    the leakage guard naive per-document hashing lacks.

    Hashing doc_ids sends ~10% of each near-dup cluster's members into
    val/test while their siblings train: the model is then evaluated on
    paraphrases of its training data and the held-out loss lies. The
    fix is to draw the split from the near-dup CLUSTER id (MinHash-LSH
    pairs → connected components, the same machinery as
    ``dedup_components``): every member of a cluster shares the
    component id, hence the draw, hence the split — leakage-free by
    construction, not by post-hoc filtering. Singleton documents use
    their own id (identical distribution).

    The draw is the engine-portable integer form (h32 per-mille, the
    ``mixture_sample`` discipline): deterministic under any
    partitioning, identical in the DuckDB oracle, and stable across
    runs — a re-ingested corpus reproduces the same split, which is
    what makes downstream eval numbers comparable between pipeline
    versions.

    Returns per-split accounting: (split, n_docs, n_components,
    total_chars). The component-never-straddles invariant is structural
    (split is a pure function of component); tests/test_curation.py
    additionally asserts it row-by-row.
    """
    from mapreduce_rs_spark.operators.graph import dedup_components

    if not 0 < train_pm + 2 * val_pm <= 1000:
        raise ValueError("split per-milles must fit in 1000")
    comps = dedup_components(df)
    labeled = (
        df.select("doc_id", "n_chars")
        .join(comps, "doc_id", "left")
        .select(
            "doc_id",
            "n_chars",
            F.coalesce("component", "doc_id").alias("component"),
        )
    )
    draw = h32(F.concat(F.col("component").cast("string"), F.lit("|split"))) % 1000
    split = (
        F.when(draw < train_pm, "train")
        .when(draw < train_pm + val_pm, "val")
        .otherwise("test")
    )
    return labeled.groupBy(split.alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("component").alias("n_components"),
        F.sum("n_chars").alias("total_chars"),
    )


TOKEN_BUDGET = 1_000_000


def token_budget_allocation(df: DataFrame, budget: int = TOKEN_BUDGET) -> DataFrame:
    """Largest-remainder (Hamilton) apportionment of a fixed training
    token budget across languages — the step a mixture schedule needs
    AFTER choosing proportions: integer per-language quotas that sum to
    the budget EXACTLY (a float-share rounding can be off by several
    tokens and is order-dependent; apportionment is the classical fix).

    Per language: base = budget·lang_tokens div corpus_tokens and
    remainder rem = (budget·lang_tokens) mod corpus_tokens are PURE
    integer arithmetic; the leftover budget − Σbase (< n_langs by
    construction) goes to the languages with the largest remainders,
    ties broken by lang ascending (a deterministic total order, so the
    allocation is partition-, run- and engine-invariant). Overflow
    headroom: budget·lang_tokens needs lang_tokens < 2^63/budget —
    at budget 10^6 that is 9.2e12 tokens per language, ~0.4x of a
    100 TB corpus; for larger budgets lift the product into
    DECIMAL(38,0) (the pagerank fixed-point discipline).

    Scale shape: the corpus-scale work is ONE lang-key partial
    aggregate (map-side combine, |langs| rows out); everything after
    runs on the dictionary-sized language table inside single-partition
    windows — the same shape mixture_weights uses. Returns per lang:
    lang_tokens, share_bp (integer basis points), base_quota, quota
    (Σ quota = budget exactly).
    """
    toks = word_tokens("text")
    lang_tok = (
        df.select("lang", F.size(toks).cast("long").alias("n"))
        .groupBy("lang")
        .agg(F.sum("n").cast("long").alias("lang_tokens"))
    )
    w_all = Window.partitionBy()
    w_rank = Window.partitionBy().orderBy(
        F.col("rem").desc(), F.col("lang").asc()
    )
    sized = lang_tok.select(
        "lang",
        "lang_tokens",
        F.sum("lang_tokens").over(w_all).cast("long").alias("corpus_tokens"),
    ).select(
        "lang",
        "lang_tokens",
        F.expr(f"lang_tokens * 10000 div corpus_tokens").cast("long").alias("share_bp"),
        F.expr(f"CAST({budget} AS BIGINT) * lang_tokens div corpus_tokens")
        .cast("long")
        .alias("base_quota"),
        F.expr(f"(CAST({budget} AS BIGINT) * lang_tokens) % corpus_tokens")
        .cast("long")
        .alias("rem"),
    )
    ranked = sized.select(
        "lang",
        "lang_tokens",
        "share_bp",
        "base_quota",
        F.row_number().over(w_rank).cast("long").alias("rk"),
        (F.lit(budget) - F.sum("base_quota").over(w_all)).cast("long").alias("leftover"),
    )
    return ranked.select(
        "lang",
        "lang_tokens",
        "share_bp",
        "base_quota",
        (F.col("base_quota") + F.when(F.col("rk") <= F.col("leftover"), 1).otherwise(0))
        .cast("long")
        .alias("quota"),
    )


# k-anonymity: a quasi-identifier combination seen fewer than K times
# re-identifies its members; N_CHARS_BUCKET coarsens the numeric QI the
# way a release would generalize it.
K_ANONYMITY = 5
N_CHARS_BUCKET = 500


def k_anonymity_audit(df: DataFrame, k: int = K_ANONYMITY) -> DataFrame:
    """k-anonymity audit over the release quasi-identifiers
    (lang, source, bucketed n_chars): per language, how many
    quasi-identifier equivalence classes fall below k members and how
    many rows those classes expose — the check a privacy review runs
    BEFORE publishing a dataset slice, and the signal that the
    generalization (bucket width, dropped columns) must coarsen.

    Pure integer accounting: class sizes are exact counts, the risk
    share is integer basis points, and the bucket edge is an integer
    floor division (a float bucket could straddle at a width boundary).

    Scale shape: one (lang, source, bucket) aggregate with map-side
    partials (equivalence classes are release-schema-bounded, not
    corpus-bounded), then a lang rollup on the class table.
    """
    classes = (
        df.select(
            "lang",
            "source",
            F.expr(f"CAST(n_chars div {N_CHARS_BUCKET} AS BIGINT)").alias(
                "chars_bucket"
            ),
        )
        .groupBy("lang", "source", "chars_bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("class_size"))
    )
    small = F.when(F.col("class_size") < k, 1).otherwise(0)
    return (
        classes.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_classes"),
            F.sum(small).cast("long").alias("n_small_classes"),
            F.sum(F.col("class_size")).cast("long").alias("n_rows"),
            F.sum(small * F.col("class_size")).cast("long").alias("n_rows_at_risk"),
        )
        .select(
            "lang",
            "n_classes",
            "n_small_classes",
            "n_rows",
            "n_rows_at_risk",
            F.expr("n_rows_at_risk * 10000 div n_rows").cast("long").alias(
                "risk_bp"
            ),
        )
    )
