"""Deduplication operators for training-data pipelines.

Beyond-reference surface (BASELINE.json north star): exact dedup,
MinHash+LSH near-dup, SimHash, and n-gram Jaccard. Everything is built
from engine-portable primitives (md5-derived hashes, functions/hashing.py)
so the DuckDB oracle can replicate values bit-for-bit.

Scale design:
* Exact dedup shuffles 16-byte fingerprints, not documents.
* MinHash: one narrow pass computes shingles + per-seed hashes, one
  aggregation produces k-value signatures (rows = docs, not shingles);
  LSH banding turns pair discovery into an equi-join on (band, band_key)
  — never an all-pairs comparison. At 100 TB the band join is the only
  shuffle whose size matters, and it carries (doc_id, 16-byte key) rows.
* SimHash: narrow per-doc bit arithmetic; near-dup = equality on the
  16-bit signature (or banded halves for Hamming distance 1-2).
* Jaccard is the exact fallback, blocked by a partition column to bound
  the candidate space.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import (
    h32,
    h32_lane_from_digest,
    h64,
    text_fingerprint,
)
from mapreduce_rs_spark.functions.text import token_ngrams, word_tokens
from mapreduce_rs_spark.operators.materialize import materialize
from mapreduce_rs_spark.operators.partitioning import ensure_parallelism

MINHASH_SEEDS = 8          # k signature values
MINHASH_BAND_SIZE = 2      # values per LSH band → 4 bands
SHINGLE_N = 3              # token 3-gram shingles
SIMHASH_BITS = 16


def _shingles(text_col: str = "text", n: int = SHINGLE_N) -> F.Column:
    """Token n-gram shingles as an array<string> — the shared narrow
    sequence+slice slide (functions.text.token_ngrams): no self-join."""
    return token_ngrams(text_col, n)


def dedup_exact(df: DataFrame) -> DataFrame:
    """Exact duplicate groups: md5 fingerprint over normalized text →
    keep the min doc_id per group, count members. The shuffle carries
    only (fingerprint, doc_id)."""
    return (
        df.select(text_fingerprint("text").alias("fingerprint"), "doc_id")
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_doc_id"), F.count("*").alias("n_dups"))
    )


def minhash_signatures(df: DataFrame, k: int = MINHASH_SEEDS) -> DataFrame:
    """MinHash signature per document: for each hash function i, the min
    over the doc's shingles. One explode + one groupBy; the aggregate
    emits k columns mh0..mh{k-1} so downstream banding is column
    arithmetic.

    Hash family: four 32-bit lanes per md5 digest (h32_lane semantics),
    so k=8 functions cost ceil(8/4)=2 md5 evaluations per shingle
    instead of 8 — md5 dominates the signature stage. The digests are
    PROJECTED once per shingle before the aggregate (relying on
    codegen subexpression elimination across the k min-buffers left
    ~25% on the table): 7.7s → 4.2s on the 50k replica corpus
    (SCALE.md). Values are bit-identical to h32_lane, so the oracle
    fragments (h32_lane_sql) are unchanged."""
    n_digests = (k + 3) // 4
    # The md5-per-shingle work is the cost; spread a single-split scan
    # across cores before the narrow hash stage (no-op when the input
    # already has enough splits).
    spread = ensure_parallelism(df.select("doc_id", "text"), "doc_id")
    shingled = spread.select("doc_id", F.explode(_shingles()).alias("shingle"))
    digests = shingled.select(
        "doc_id",
        *[
            F.md5(F.concat(F.lit(f"{g}|"), F.col("shingle"))).alias(f"d{g}")
            for g in range(n_digests)
        ],
    )
    aggs = [
        F.min(h32_lane_from_digest(f"d{i // 4}", i % 4)).alias(f"mh{i}")
        for i in range(k)
    ]
    return digests.groupBy("doc_id").agg(*aggs)


def _banded(sigs: DataFrame, k: int = MINHASH_SEEDS, band_size: int = MINHASH_BAND_SIZE) -> DataFrame:
    """(doc_id, band, band_key) from a signature table — the LSH
    banding split shared by the self-join pair finder and the
    incremental-ingest admission probe. One narrow explode; the
    band_key is the comma-joined signature slice."""
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.concat_ws(",", *[F.col(f"mh{b * band_size + j}").cast("string") for j in range(band_size)]).alias("band_key"),
        )
        for b in range(k // band_size)
    ]
    return sigs.select("doc_id", F.explode(F.array(*bands)).alias("bk")).select(
        "doc_id", F.col("bk.band").alias("band"), F.col("bk.band_key").alias("band_key")
    )


def minhash_lsh_pairs(
    df: DataFrame,
    k: int = MINHASH_SEEDS,
    band_size: int = MINHASH_BAND_SIZE,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Signature split into k/band_size bands; docs sharing any band's
    concatenated value become candidates. Implemented as an equi-join of
    the banded table with itself on (band, band_key) — the classic
    all-pairs-free LSH join. Dedups (a,b) pairs across bands.

    The signature table is materialized ONCE before the self-join:
    without it Catalyst expands both join sides into the full
    scan→shingle→k·md5-min pipeline, doubling the most expensive narrow
    stage (round-1 PLANS.md showed two complete signature subtrees).
    ``materialize`` stores it in-session, or as executor-loss-safe
    parquet when the session has a checkpoint directory
    (operators/materialize.py; byte-equality of the two modes proven in
    tests/test_materialize.py).
    """
    sigs = materialize(minhash_signatures(df, k))
    banded = _banded(sigs, k, band_size)
    left = banded.alias("l")
    right = banded.alias("r")
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("l.doc_id").alias("doc_a"), F.col("r.doc_id").alias("doc_b"))
        .distinct()
    )


def winnow_fingerprints(df: DataFrame, k: int = 4) -> DataFrame:
    """Winnowing-style document fingerprint: the k smallest shingle
    hashes per doc, joined into one string key. A compact content
    fingerprint robust to local edits (an edit perturbs few shingles,
    usually not the global minima) — the rolling-hash fingerprint family
    from the plagiarism-detection literature, expressed as dataflow:
    explode → rank → filter → ordered string_agg. Docs sharing a
    fingerprint are near-certain duplicates."""
    shingled = (
        ensure_parallelism(df.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(_shingles()).alias("shingle"))
        .select("doc_id", h32("shingle").alias("h"))
        .distinct()
    )
    w = Window.partitionBy("doc_id").orderBy("h")
    return (
        shingled.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        .groupBy("doc_id")
        .agg(
            F.array_join(
                F.transform(F.array_sort(F.collect_list("h")), lambda x: x.cast("string")),
                ",",
            ).alias("fingerprint")
        )
    )


def simhash_signatures(df: DataFrame, bits: int = SIMHASH_BITS) -> DataFrame:
    """SimHash per document: sign-aggregate each bit of the token hashes.

    Per-token h64 → per-bit ±1 votes → bit b set iff the vote sum is
    positive → signature = Σ bit<<b. All bit arithmetic uses shift+mask,
    which DuckDB evaluates identically. One explode + one groupBy."""
    toks = ensure_parallelism(df.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(word_tokens("text")).alias("word")
    ).withColumn("h", h64("word"))
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    voted = toks.groupBy("doc_id").agg(*votes)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(0)
        sig = term if sig is None else sig + term
    return voted.select("doc_id", sig.cast("long").alias("simhash"))


JACCARD_MAX_DF_FRAC = 0.5  # drop tokens present in > this fraction of a lang's docs


SIMHASH_BAND_BITS = 4      # 16-bit signature → 4 bands of 4 bits


## Boilerplate-bucket guard for SimHash banding. A (band, band_val)
## bucket of B docs yields B(B-1)/2 candidate pairs — and unlike
## MinHash (whose shingle diversity keeps buckets small), SimHash
## signatures SATURATE on template/boilerplate-heavy corpora: the
## weighted head tokens dominate every signature, the whole cluster
## lands in one bucket, and banding silently degrades to all-pairs
## (measured: 50k low-diversity docs OOM'd a 64 GiB heap at sf1.0).
## Buckets above the cap are excluded from pairwise expansion — a pair
## whose ONLY agreeing band is a dropped bucket is missed, which is the
## standard production trade (Manku-Jain-Sarma §5): a saturated bucket
## IS a duplicate cluster, and enumerating its O(B^2) pairs is both
## intractable and useless — cluster-level dedup (dedup_components /
## semdedup) is the right tool for those. 1000 is far above any bucket
## the driver corpora produce (bucket <= |docs| = 500 at sf0.01), so
## the oracled values are unchanged at every driver scale.
SIMHASH_MAX_BUCKET = 1_000


def simhash_near_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    band_bits: int = SIMHASH_BAND_BITS,
    max_bucket: int = SIMHASH_MAX_BUCKET,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance, found WITHOUT
    an all-pairs comparison: band the signature into ``bits/band_bits``
    chunks — any pair within Hamming distance d < #bands must agree on
    at least one full band (pigeonhole), so candidate generation is an
    equi-join on (band, band_value). Exact ``bit_count(xor)`` then
    filters candidates to the true distance. The classic
    Charikar/Manku-Jain-Sarma dedup shape: at 100 TB the join carries
    (doc_id, 4-bit band value) rows and hot keys are bounded by the
    ``max_bucket`` guard (see SIMHASH_MAX_BUCKET), not by hoping the
    signature distribution stays balanced."""
    n_bands = SIMHASH_BITS // band_bits
    if max_hamming >= n_bands:
        # The pigeonhole guarantee (d < #bands ⇒ some band matches)
        # would silently not hold: a pair at distance == n_bands can
        # put one differing bit in every band and never co-band.
        raise ValueError(
            f"max_hamming={max_hamming} needs < {n_bands} (= {SIMHASH_BITS}/{band_bits} bands) "
            "for exhaustive candidate generation; use smaller band_bits for larger distances"
        )
    sigs = materialize(simhash_signatures(df))
    mask = (1 << band_bits) - 1
    bands = [
        F.struct(
            F.lit(b).alias("band"),
            F.shiftright(F.col("simhash"), b * band_bits).bitwiseAND(F.lit(mask)).alias("band_val"),
        )
        for b in range(n_bands)
    ]
    banded = sigs.select(
        "doc_id", "simhash", F.explode(F.array(*bands)).alias("bk")
    ).select("doc_id", "simhash", F.col("bk.band").alias("band"), F.col("bk.band_val").alias("band_val"))
    # saturated-bucket blacklist: tiny by construction (only buckets
    # whose pairwise expansion would exceed max_bucket^2/2 rows), so it
    # broadcasts and the big side never shuffles for the guard
    oversized = (
        banded.groupBy("band", "band_val")
        .agg(F.count(F.lit(1)).alias("bsz"))
        .where(F.col("bsz") > max_bucket)
        .select("band", "band_val")
    )
    banded = banded.join(F.broadcast(oversized), ["band", "band_val"], "left_anti")
    left, right = banded.alias("l"), banded.alias("r")
    hamming = F.bit_count(F.col("l.simhash").bitwiseXOR(F.col("r.simhash")))
    return (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(
            F.col("l.doc_id").alias("doc_a"),
            F.col("r.doc_id").alias("doc_b"),
            hamming.cast("int").alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )


## Absolute posting-length cap for jaccard_pairs' token blocking. The
## fractional df cutoff alone bounds a token's co-group at
## max_df_frac·|lang docs| — a bound that GROWS with the corpus, so
## candidate-pair volume grows quadratically with scale (measured:
## >10 min at sf1.0's 50k docs where sf0.1 ran in ~2 s). Tokens whose
## posting list exceeds this absolute cap are dropped from blocking
## regardless of corpus size — the standard skip-long-postings rule —
## making per-key co-groups corpus-independent (<= cap²/2 pairs).
## 1000 is far above any driver-scale posting (0.5·500 = 250 binds
## first), so the oracled values are unchanged at every driver scale;
## exact-recall similarity at web scale belongs to the bounded tiers
## (prefix_filter_jaccard_pairs, minhash_lsh_pairs), which measured
## 9.8 s / 4.0 s at the same sf1.0.
JACCARD_MAX_DF_ABS = 1_000


def jaccard_pairs(
    df: DataFrame,
    threshold: float = 0.5,
    max_df_frac: float = JACCARD_MAX_DF_FRAC,
    max_df_abs: int = JACCARD_MAX_DF_ABS,
) -> DataFrame:
    """Exact token-set Jaccard similarity for document pairs, blocked by
    ``lang``, over DISTINCTIVE tokens only: tokens whose document
    frequency exceeds ``max_df_frac`` of their language's corpus OR the
    absolute ``max_df_abs`` posting cap are dropped before the pair
    join (the classic stopword/df cutoff plus the skip-long-postings
    rule — see JACCARD_MAX_DF_ABS for why the fractional cutoff alone
    is not corpus-independent).

    This is the fix for round 1's scale-killer: joining on raw tokens
    means the hottest token ("the") co-groups nearly every doc pair in
    a language — quadratic blowup on one skewed key. High-df tokens
    carry no similarity signal anyway (they're present in everything),
    so the cutoff both bounds every join key's co-group and sharpens
    the measure. Jaccard is computed consistently over the filtered
    sets (intersection AND sizes), mirrored exactly in the oracle SQL.

    The df table is token-dictionary-sized (not corpus-sized), so the
    extra aggregate + semi-join are cheap at any scale.
    """
    # Materialize the exploded distinct-token stream ONCE: it feeds the
    # df aggregate, the semi-join, both pair-join sides and the sizes
    # aggregate — without this Catalyst re-tokenizes the corpus per use
    # (the round-1 minhash double-compute disease, ~12 scans).
    toks_all = materialize(
        ensure_parallelism(df.select("doc_id", "lang", "text"), "doc_id").select(
            "doc_id",
            "lang",
            F.explode(
                F.array_distinct(word_tokens("text"))
            ).alias("word"),
        )
    )
    lang_totals = df.groupBy("lang").agg(F.count("*").alias("n_docs_lang"))
    word_df = toks_all.groupBy("lang", "word").agg(F.count("*").alias("df"))
    rare = (
        word_df.join(F.broadcast(lang_totals), "lang")
        .where(
            (F.col("df") <= max_df_frac * F.col("n_docs_lang"))
            & (F.col("df") <= max_df_abs)
        )
        .select("lang", "word")
    )
    toks = materialize(toks_all.join(rare, ["lang", "word"], "left_semi"))
    sizes = toks.groupBy("doc_id").agg(F.count("*").alias("n_tokens"))
    pairs = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.word") == F.col("b.word"))
            & (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_common"))
    )
    return (
        pairs.join(sizes.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(sizes.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("n_common").cast("double")
                / (F.col("sa.n_tokens") + F.col("sb.n_tokens") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


DECONTAM_N = 8             # industry-standard verbatim-overlap n-gram length


def decontaminate(
    df: DataFrame, eval_source: str = "src0", n: int = DECONTAM_N
) -> DataFrame:
    """Train/eval decontamination audit: how much of the training corpus
    shares verbatim token n-grams with a held-out evaluation set — the
    contamination check every pretraining pipeline runs before a corpus
    ships (here the eval set is one ``source`` partition of the same
    table; in production it is the benchmark suite).

    A training doc is contaminated if ANY of its n-gram shingles appears
    anywhere in the eval set (8-grams by default — short enough to
    catch paraphrase-resistant verbatim runs, long enough that common
    phrases don't flag everything). Output: per-language training-doc
    counts, contaminated counts, and the contamination rate.

    Scale shape: the asymmetry is the whole design — the eval side is
    small by construction (benchmarks are thousands of docs; the corpus
    is billions), so its DISTINCT shingle-hash set broadcasts and the
    training side probes it with a left-semi hash join: no training text
    ever shuffles, and the only exchanges are the per-language count
    aggregates. Shingles travel as 60-bit h64 values (engine-portable
    md5 derivation), not strings. A 60-bit collision would flag one
    spurious doc pair per ~1e18 shingle comparisons — audit-grade.
    """
    sh = F.explode(F.array_distinct(_shingles(n=n))).alias("shingle")
    eval_hashes = (
        df.where(F.col("source") == eval_source)
        .select(sh)
        .select(h64("shingle").alias("h"))
        .distinct()
    )
    train = df.where(F.col("source") != eval_source)
    contaminated = (
        train.select("doc_id", "lang", sh)
        .select("doc_id", "lang", h64("shingle").alias("h"))
        .join(F.broadcast(eval_hashes), "h", "left_semi")
        .select("doc_id", "lang")
        .distinct()
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("int").alias("n_contaminated"))
    )
    totals = train.groupBy("lang").agg(
        F.count(F.lit(1)).cast("int").alias("n_train_docs")
    )
    return totals.join(contaminated, "lang", "left").select(
        "lang",
        "n_train_docs",
        F.coalesce(F.col("n_contaminated"), F.lit(0)).alias("n_contaminated"),
        (
            F.coalesce(F.col("n_contaminated"), F.lit(0)).cast("double")
            / F.col("n_train_docs")
        ).alias("contamination_rate"),
    )


EVAL_QUERIES_CAP = 50  # hard bound on the dedup-eval query sample


def lsh_dedup_eval(
    df: DataFrame, tau_num: int = 1, tau_den: int = 2, cap: int = EVAL_QUERIES_CAP
) -> DataFrame:
    """Dedup-index evaluation (the ann_recall of the dedup family):
    precision/recall of the MinHash-LSH candidate pairs against EXACT
    shingle-Jaccard ground truth on a HARD-BOUNDED query sample.

    Ground truth: for each of the ``cap`` sampled documents (the cap
    smallest ``h32(doc_id)`` — the same KMV discipline as the knn
    query set; the round-3 ``doc_id % 10`` scheme sampled a corpus
    FRACTION, which at 100 TB makes the truth join O(corpus·10%)),
    its exact Jaccard overlap with every other document, computed from
    distinct shingle sets via a shared-shingle equi-join (co-groups
    bounded by the cap per shingle key — never all-pairs). The
    threshold test is INTEGER (n_inter·den >= num·(sz_a + sz_b -
    n_inter), tau = num/den), so no float boundary exists cross-engine.

    Predicted: minhash_lsh_pairs restricted to pairs touching the
    sample. Output is one row: truth/predicted/hit counts, precision,
    recall — the numbers that justify (or veto) replacing exact dedup
    with the LSH tier at scale.
    """
    q_ids = (
        df.select("doc_id")
        .withColumn("h", h32(F.col("doc_id").cast("string")))
        .orderBy("h", "doc_id")
        .limit(cap)
        .select("doc_id")
    )
    # one-small-file rescue (r07 one-task sweep: sh feeds several
    # consumers, each clone re-shingled one-task; no-op at scale)
    sh = ensure_parallelism(df.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.explode(F.array_distinct(_shingles("text"))).alias("shingle")
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    q_sh = sh.join(F.broadcast(q_ids), "doc_id").select(
        F.col("doc_id").alias("q_id"), "shingle"
    )
    inter = (
        q_sh.join(sh, "shingle")
        .where(F.col("q_id") != F.col("doc_id"))
        .groupBy("q_id", "doc_id")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    qs = sizes.select(F.col("doc_id").alias("q_id"), F.col("sz").alias("sz_q"))
    ds = sizes.select("doc_id", F.col("sz").alias("sz_d"))
    truth = (
        inter.join(qs, "q_id")
        .join(ds, "doc_id")
        .where(
            F.col("n_inter") * tau_den
            >= tau_num * (F.col("sz_q") + F.col("sz_d") - F.col("n_inter"))
        )
        .select(
            F.least("q_id", "doc_id").alias("doc_a"),
            F.greatest("q_id", "doc_id").alias("doc_b"),
        )
        .distinct()
    )
    # Pairs touching the sample, via broadcast flag joins (one pass
    # over the pair stream — no isin-literal list, no double compute).
    flag_a = q_ids.select(F.col("doc_id").alias("doc_a"), F.lit(1).alias("fa"))
    flag_b = q_ids.select(F.col("doc_id").alias("doc_b"), F.lit(1).alias("fb"))
    pred = (
        minhash_lsh_pairs(df)
        .select("doc_a", "doc_b")
        .join(F.broadcast(flag_a), "doc_a", "left")
        .join(F.broadcast(flag_b), "doc_b", "left")
        .where(F.col("fa").isNotNull() | F.col("fb").isNotNull())
        .select("doc_a", "doc_b")
    )
    hits = truth.join(pred, ["doc_a", "doc_b"])
    return (
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
        .crossJoin(F.broadcast(pred.agg(F.count(F.lit(1)).alias("n_predicted"))))
        .crossJoin(F.broadcast(hits.agg(F.count(F.lit(1)).alias("n_hits"))))
        .select(
            "n_truth",
            "n_predicted",
            "n_hits",
            F.try_divide(
                F.col("n_hits").cast("double"), F.col("n_predicted")
            ).alias("precision"),
            F.try_divide(F.col("n_hits").cast("double"), F.col("n_truth")).alias(
                "recall"
            ),
        )
    )


def incremental_ingest_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup in its CONTINUOUS-INGESTION shape: a new batch
    arrives and must be admitted only where it is novel against the
    standing corpus AND within itself — the nightly crawl-merge every
    production corpus runs, where re-fingerprinting the whole corpus
    per batch would be quadratic over time.

    The deterministic split (doc_id % 10 >= 8 is "the incoming batch",
    the rest "the standing corpus") stands in for the two tables a real
    pipeline has. Admission plan, in scale order:

    * corpus side is touched ONLY as (fingerprint) — a narrow
      projection feeding a left ANTI join keyed on the fingerprint; the
      corpus text never moves (the ``decontaminate`` discipline);
    * within-batch winners via min-doc_id per fingerprint over the
      batch alone (batch-sized, not corpus-sized state);
    * a batch row is admitted iff it wins its batch group AND its
      fingerprint misses the corpus.

    Returns per-language accounting: batch size, duplicates rejected
    against the corpus, within-batch echoes rejected, rows admitted —
    the ingest report a crawler dashboard shows per cycle.
    """
    fp = text_fingerprint("text")
    corpus_fps = (
        df.where(F.col("doc_id") % 10 < 8).select(fp.alias("fingerprint")).distinct()
    )
    batch = df.where(F.col("doc_id") % 10 >= 8).select(
        "doc_id", "lang", fp.alias("fingerprint")
    )
    batch_winners = batch.groupBy("fingerprint").agg(
        F.min("doc_id").alias("keep_doc_id")
    )
    flagged = (
        batch.join(
            corpus_fps.select("fingerprint", F.lit(1).alias("in_corpus")),
            "fingerprint",
            "left",
        )
        .join(batch_winners, "fingerprint")
        .select(
            "lang",
            F.col("in_corpus").isNotNull().alias("dup_corpus"),
            (F.col("doc_id") != F.col("keep_doc_id")).alias("dup_batch"),
        )
    )
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_batch"),
        F.count_if(F.col("dup_corpus")).alias("n_dup_vs_corpus"),
        F.count_if(~F.col("dup_corpus") & F.col("dup_batch")).alias("n_dup_in_batch"),
        F.count_if(~F.col("dup_corpus") & ~F.col("dup_batch")).alias("n_admitted"),
    )


# Near-dup ingest synthesis knobs (oracle mirrors all of these):
# NEAR plants append one token — sources with doc_id % 20 == 0 are
# corpus docs (0 % 10 < 8) and plant a near-dup-vs-CORPUS case;
# % 20 == 9 are natural batch docs (9 >= 8) and plant a
# near-dup-WITHIN-BATCH case. EXACT plants copy the text verbatim —
# % 20 == 5 (corpus) plants an exact-dup-vs-corpus, % 20 == 19 (batch)
# an exact echo within the batch. All four rejection branches are
# exercised non-vacuously at every SF.
INGEST_PLANT_MODS = (0, 9)
INGEST_EXACT_PLANT_MODS = (5, 19)
INGEST_PLANT_OFFSET = 1_000_000
INGEST_PLANT_SUFFIX = " ingestnd"


def incremental_ingest_neardup(df: DataFrame) -> DataFrame:
    """Continuous ingestion with a NEAR-duplicate admission tier — the
    missing half of ``incremental_ingest_dedup`` (r07 verdict #3): a
    production curation loop admits a crawl batch only where it is
    novel against the standing corpus by fingerprint AND by MinHash-LSH
    similarity, without ever re-reading the corpus text.

    Deterministic synthesis (the entity_match/PII discipline): the
    split is ``doc_id % 10`` as in the exact variant, and near-dup
    probes are PLANTED — every source doc with
    ``doc_id % 20 in {0, 9}`` contributes a batch variant
    (``doc_id + 1_000_000``, one token appended). Appending one token
    adds a single shingle, so the variant's MinHash signature is almost
    always identical to its source's → a guaranteed band collision
    against the corpus (%20==0 sources) or against an earlier batch row
    (%20==9 sources), making both near-dup branches non-vacuous.

    Admission cascade per batch row (first rejection wins, counts are
    disjoint and sum to n_batch):

    1. exact duplicate vs corpus — fingerprint semi-join;
    2. exact echo within the batch — not the min-doc_id of its
       fingerprint group;
    3. near-dup vs corpus — shares any (band, band_key) with the
       corpus signature table;
    4. near-dup within the batch — shares a band with a SMALLER-doc_id
       batch row that itself survived stages 1-3 (the one-pass
       band-representative rule: the survivor set is fixed by stages
       1-3, not recomputed as stage 4 rejects — chain c~b~a resolves in
       one shuffle instead of an iterative loop, and the kept set is
       deterministic).

    Scale shape: the corpus appears ONLY as (a) a distinct fingerprint
    column and (b) its signature table, materialized once (the
    ``minhash_lsh_pairs`` materialization discipline); corpus text
    never shuffles. The admission probes are (band, band_key)
    equi-joins — batch-sized left side, never all-pairs. The
    within-batch self-join is batch² bounded by band collisions, the
    same envelope as ``minhash_lsh_pairs`` at batch scale.

    Returns per-language accounting: batch size, each rejection tier,
    rows admitted.
    """
    base = df.select("doc_id", "lang", "text")
    corpus = base.where(F.col("doc_id") % 10 < 8)
    near_plants = base.where((F.col("doc_id") % 20).isin(*INGEST_PLANT_MODS)).select(
        (F.col("doc_id") + INGEST_PLANT_OFFSET).alias("doc_id"),
        "lang",
        F.concat(F.col("text"), F.lit(INGEST_PLANT_SUFFIX)).alias("text"),
    )
    exact_plants = base.where(
        (F.col("doc_id") % 20).isin(*INGEST_EXACT_PLANT_MODS)
    ).select((F.col("doc_id") + INGEST_PLANT_OFFSET).alias("doc_id"), "lang", "text")
    batch = (
        base.where(F.col("doc_id") % 10 >= 8)
        .unionByName(near_plants)
        .unionByName(exact_plants)
    )

    # standing index artifact: the corpus band table (signatures are
    # the thing a real loop persists; bands are a narrow derivation).
    # Corpus and batch doc_ids are disjoint by construction (plants are
    # offset), so ONE signature pass over the tagged union serves both
    # sides — the oracle's own all_docs shape — instead of two separate
    # scan→shingle→md5 pipelines and checkpoint barriers (measured:
    # 3 → 2 checkpoint jobs, ~1.4x at sf1.0 suite pacing).
    corpus_fps = corpus.select(text_fingerprint("text").alias("fingerprint")).distinct()
    all_bands = materialize(
        _banded(minhash_signatures(corpus.unionByName(batch).select("doc_id", "text"))),
    )
    is_corpus = (F.col("doc_id") < INGEST_PLANT_OFFSET) & (F.col("doc_id") % 10 < 8)
    corpus_bands = all_bands.where(is_corpus).select("band", "band_key").distinct()
    flagged = admit_batch(
        batch, corpus_fps, corpus_bands, batch_bands=all_bands.where(~is_corpus)
    )
    fresh = ~F.col("exact_corpus") & ~F.col("exact_batch")
    return flagged.groupBy("lang").agg(
        F.count("*").alias("n_batch"),
        F.count_if(F.col("exact_corpus")).alias("n_exact_vs_corpus"),
        F.count_if(~F.col("exact_corpus") & F.col("exact_batch")).alias("n_exact_in_batch"),
        F.count_if(fresh & F.col("near_corpus")).alias("n_near_vs_corpus"),
        F.count_if(fresh & ~F.col("near_corpus") & F.col("near_batch")).alias("n_near_in_batch"),
        F.count_if(fresh & ~F.col("near_corpus") & ~F.col("near_batch")).alias("n_admitted"),
    )


def admit_batch(
    batch: DataFrame,
    corpus_fps: DataFrame,
    corpus_bands: DataFrame,
    batch_bands: DataFrame | None = None,
) -> DataFrame:
    """The near-dup admission core, shared by the batch operator above
    and the streaming foreachBatch loop (streaming/pipeline.py) — one
    implementation of the cascade so the two forms cannot drift.

    ``batch`` is (doc_id, lang, text); ``corpus_fps`` (fingerprint) and
    ``corpus_bands`` (band, band_key) are the standing corpus's
    admission artifacts — the only corpus state this ever touches.
    ``batch_bands`` lets a caller that already computed the batch's
    band rows (e.g. in a shared pass with the corpus side) supply them
    pre-materialized; by default they are derived and checkpointed
    here. Returns one row per batch doc: (doc_id, lang, exact_corpus,
    exact_batch, near_corpus, near_batch) with the flags ordered by
    rejection precedence (earlier True wins; a row is admitted iff all
    four are False).
    """
    batch_fp = batch.select(
        "doc_id", "lang", text_fingerprint("text").alias("fingerprint")
    )
    if batch_bands is None:
        # batch bands feed two probes (corpus + self) — materialize once
        # so Catalyst doesn't clone the shingle→md5 pipeline per consumer
        batch_bands = materialize(_banded(minhash_signatures(batch)))

    winners = batch_fp.groupBy("fingerprint").agg(F.min("doc_id").alias("keep_doc_id"))
    near_corpus_ids = (
        batch_bands.join(corpus_bands, ["band", "band_key"], "left_semi")
        .select("doc_id")
        .distinct()
    )
    # the stage-1..3 ledger feeds BOTH the within-batch probe's anchor
    # set and the final accounting: materialize it once (batch-sized,
    # narrow — the admission ledger a real ingest loop persists anyway)
    # or Catalyst clones the whole fingerprint join chain down each
    # branch (measured: 14 parquet scans / 42 md5 sites in the final
    # plan without this, 3x the wall at sf1.0)
    staged = materialize(
        batch_fp.join(
            corpus_fps.select("fingerprint", F.lit(1).alias("in_corpus")),
            "fingerprint",
            "left",
        )
        .join(winners, "fingerprint")
        .join(
            near_corpus_ids.select("doc_id", F.lit(1).alias("near_c")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            "lang",
            F.col("in_corpus").isNotNull().alias("exact_corpus"),
            (F.col("doc_id") != F.col("keep_doc_id")).alias("exact_batch"),
            F.col("near_c").isNotNull().alias("near_corpus"),
        ),
    )
    # survivors of stages 1-3 anchor the within-batch probe's left side
    survivors = staged.where(
        ~F.col("exact_corpus") & ~F.col("exact_batch") & ~F.col("near_corpus")
    ).select("doc_id")
    near_batch_ids = (
        batch_bands.alias("l")
        .join(survivors.alias("s"), F.col("l.doc_id") == F.col("s.doc_id"), "left_semi")
        .join(
            batch_bands.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key"))
            & (F.col("l.doc_id") < F.col("r.doc_id")),
        )
        .select(F.col("r.doc_id").alias("doc_id"))
        .distinct()
    )
    return staged.join(
        near_batch_ids.select("doc_id", F.lit(1).alias("near_b")), "doc_id", "left"
    ).select(
        "doc_id",
        "lang",
        "exact_corpus",
        "exact_batch",
        "near_corpus",
        F.col("near_b").isNotNull().alias("near_batch"),
    )


# LSH S-curve calibration knobs (oracle mirrors all three). Variants
# are synthesized at token-keep fractions p/4 for p in 0..4, so the
# exact-Jaccard deciles are populated from ~0 to 1 at every SF — a
# corpus's organic pair-similarity distribution is almost entirely
# decile 0 and would leave the curve unmeasured.
SCURVE_SAMPLE_CAP = 64     # KMV-sampled source docs
SCURVE_GRADES = (0, 1, 2, 3, 4)   # keep p/4 of the tokens
SCURVE_MIN_TOKENS = 8      # eligibility: slicing needs some length


def lsh_scurve_calibration(df: DataFrame, cap: int = SCURVE_SAMPLE_CAP) -> DataFrame:
    """Empirical LSH S-curve — the banding-parameter calibration table:
    for pairs of known exact shingle-Jaccard similarity, how often does
    the (k=8, r=2, b=4) banding actually collide? ``lsh_dedup_eval``
    grades the index at ONE threshold; this measures the whole
    acceptance curve, which is what you consult before changing k / r /
    b on a 100 TB corpus (theory says P(collide) = 1-(1-s^r)^b; this
    query reports what the IMPLEMENTED hash family + banding delivers).

    Controlled similarity ladder (the entity_match/PII synthesis
    discipline): for each of ``cap`` KMV-sampled eligible docs (>=
    SCURVE_MIN_TOKENS tokens; cap smallest h32(doc_id)), five variants
    keep the first ceil(L*p/4) tokens and replace the tail with
    variant-unique filler tokens — pair similarities land across the
    decile range at every SF instead of piling into decile 0. Jaccard
    is then computed EXACTLY from the synthesized texts (the ladder
    only spreads the deciles; nothing is assumed), bucketed by integer
    cross-multiply: decile = (10 * |A∩B|) div |A∪B|.

    Scale shape: the only corpus-wide work is the KMV sample scan
    (TakeOrdered, O(cap) driver state); everything downstream is
    O(cap · grades) rows. Signatures for originals and variants come
    from ONE checkpointed pass over the union (the ingest all_docs
    discipline); collision = (band, band_key) equi-join restricted to
    ladder pairs.

    Returns (sim_decile, n_pairs, n_collisions, collision_rate).
    """
    tk = word_tokens("text")
    sample = materialize(
        df.select("doc_id", "text")
        .where(F.size(tk) >= SCURVE_MIN_TOKENS)
        .withColumn("h", h32(F.col("doc_id").cast("string")))
        .orderBy("h", "doc_id")
        .limit(cap)
        .select("doc_id", tk.alias("tk")),
    )
    grades = F.explode(
        F.array(*[F.lit(p) for p in SCURVE_GRADES])
    ).alias("p")
    ln = F.size("tk")
    keep = ((ln * F.col("p") + 3) / 4).cast("long")  # ceil(L*p/4), exact: see below
    # ceil via integer arithmetic, not float division: (L*p + 3) div 4
    keep = F.expr("(size(tk) * p + 3) div 4")
    filler = F.when(
        ln - keep > 0,
        F.transform(
            F.sequence(F.lit(1), (ln - keep).cast("int")),
            lambda i: F.concat(
                F.lit("zz"),
                F.col("doc_id").cast("string"),
                F.lit("x"),
                F.col("p").cast("string"),
                F.lit("w"),
                i.cast("string"),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    variants = sample.select("doc_id", "tk", grades).select(
        (F.col("doc_id") * 10 + F.col("p") + 1).alias("vid"),
        F.col("doc_id").alias("src_id"),
        F.concat_ws(
            " ", F.concat(F.slice(F.col("tk"), 1, keep.cast("int")), filler)
        ).alias("text"),
    )
    # one signature/shingle pass over originals ∪ variants (disjoint
    # ids: vid = src*10 + p + 1 cannot equal any sampled doc_id times
    # nothing — originals keep their ids, variants get the derived ids)
    all_docs = materialize(
        sample.select("doc_id", F.array_join("tk", " ").alias("text")).unionByName(
            variants.select(F.col("vid").alias("doc_id"), "text")
        ),
    )
    ssh = all_docs.select(
        "doc_id", F.explode(F.array_distinct(_shingles("text"))).alias("shingle")
    )
    sizes = ssh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    pairs = variants.select("src_id", "vid")
    inter = (
        ssh.alias("l")
        .join(ssh.alias("r"), F.col("l.shingle") == F.col("r.shingle"))
        .join(
            pairs,
            (F.col("l.doc_id") == F.col("src_id"))
            & (F.col("r.doc_id") == F.col("vid")),
            "left_semi",
        )
        .groupBy(F.col("l.doc_id").alias("src_id"), F.col("r.doc_id").alias("vid"))
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    banded = _banded(minhash_signatures(all_docs))
    coll = (
        banded.alias("l")
        .join(
            banded.alias("r"),
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.band_key") == F.col("r.band_key")),
        )
        .join(
            pairs,
            (F.col("l.doc_id") == F.col("src_id"))
            & (F.col("r.doc_id") == F.col("vid")),
            "left_semi",
        )
        .select(F.col("l.doc_id").alias("src_id"), F.col("r.doc_id").alias("vid"))
        .distinct()
    )
    sa = sizes.select(F.col("doc_id").alias("src_id"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col("doc_id").alias("vid"), F.col("sz").alias("sz_b"))
    graded = (
        pairs.join(sa, "src_id")
        .join(sb, "vid")
        .join(inter, ["src_id", "vid"], "left")
        .join(coll.select("src_id", "vid", F.lit(1).alias("c")), ["src_id", "vid"], "left")
        .select(
            F.expr(
                "(10 * coalesce(n_inter, 0)) div (sz_a + sz_b - coalesce(n_inter, 0))"
            ).alias("sim_decile"),
            F.col("c").isNotNull().alias("collided"),
        )
    )
    return graded.groupBy(F.col("sim_decile").cast("int").alias("sim_decile")).agg(
        F.count("*").alias("n_pairs"),
        F.count_if(F.col("collided")).alias("n_collisions"),
        (
            F.count_if(F.col("collided")).cast("double") / F.count("*")
        ).alias("collision_rate"),
    )


SPAN_N = 5  # token n-gram grain for exact substring-span detection


def duplicate_spans(df: DataFrame, n: int = SPAN_N, min_docs: int = 2) -> DataFrame:
    """Exact duplicate-SUBSTRING accounting per document — the
    span-level dedup statistic of Lee et al. 2022 ("Deduplicating
    Training Data Makes Language Models Better"): instead of judging
    whole documents (dedup_exact) or fuzzy neighbors (MinHash), find
    the exact token RANGES that recur across documents (boilerplate
    headers, license blocks, quoted passages) so a pipeline can excise
    the span and keep the document.

    Algorithm, all relational: (1) one narrow slide emits (doc, pos,
    n-gram hash); (2) grams seen in >= ``min_docs`` DISTINCT documents
    are the duplicated grain; (3) flagged positions merge into MAXIMAL
    spans by gaps-and-islands — two flagged positions belong to one
    span when their gram windows overlap or touch (pos gap <= n),
    island id = running sum of breaks, span token range =
    [min pos, max pos + n - 1]; (4) per-document rollup with zero rows
    preserved (a doc with no duplicated span still reports 0 /
    dup_fraction 0).

    Scale shape: the gram stream is the heavy stage (|tokens| rows of
    (doc_id, pos, 8-byte hash) — narrow, like minhash's shingle
    stage); the duplicated-gram set aggregates it ONCE and comes back
    as a LEFT SEMI equi-join on the hash; the islands window and both
    rollups run partitioned by doc_id (one exchange serves all three).
    Never all-pairs, never a self-join on text. All arithmetic integer
    except the final dup_fraction division.
    """
    toks = word_tokens("text")
    # one-small-file rescue (r07 one-task sweep; no-op at scale)
    base = ensure_parallelism(df.select("doc_id", "text"), "doc_id").select(
        "doc_id", F.size(toks).alias("n_tokens"), F.col("text")
    )
    grams = base.select(
        "doc_id",
        F.posexplode(token_ngrams("text", n)).alias("pos", "gram"),
    ).select("doc_id", "pos", h64("gram").alias("gh"))
    dup = (
        grams.groupBy("gh")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .where(F.col("nd") >= min_docs)
        .select("gh")
    )
    flagged = grams.join(dup, "gh", "left_semi")
    w = Window.partitionBy("doc_id").orderBy("pos")
    gap = F.col("pos") - F.lag("pos").over(w)
    islands = flagged.withColumn(
        "brk", F.when(gap.isNull() | (gap > n), 1).otherwise(0)
    ).withColumn("island", F.sum("brk").over(w))
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + n - 1).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("int").alias("n_spans"),
        F.sum(F.col("e") - F.col("s") + 1).cast("long").alias("dup_tokens"),
    )
    return base.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("dup_tokens", F.lit(0).cast("long")).alias("dup_tokens"),
        F.try_divide(
            F.coalesce("dup_tokens", F.lit(0).cast("long")).cast("double"),
            F.col("n_tokens"),
        ).alias("dup_fraction"),
    )


CONTAIN_MAX_DF = 64       # absolute shingle-df cap for the pair join
CONTAIN_MIN_PCT = 50      # emit pairs with containment >= 50%


def ngram_containment_pairs(
    df: DataFrame,
    n: int = SHINGLE_N,
    max_df: int = CONTAIN_MAX_DF,
    min_pct: int = CONTAIN_MIN_PCT,
) -> DataFrame:
    """Shingle CONTAINMENT (|A∩B| / min(|A|, |B|)) for candidate pairs
    — the asymmetric dedup measure Jaccard misses: a document quoted
    or expanded inside a larger one scores near 1.0 on containment
    while its Jaccard can be arbitrarily low. Broder's original resem-
    blance/containment pairing, here as the containment half (the
    resemblance half is ``jaccard_pairs``).

    Blocking discipline: pairs come from an equi-join on the shingle —
    never all-pairs — and shingles with document frequency >
    ``max_df`` (an ABSOLUTE cap, not a corpus fraction) are dropped
    first: a df-d shingle fans out C(d,2) pairs, so the cap bounds
    per-shingle join work at C(max_df, 2) regardless of corpus size,
    and ubiquitous boilerplate shingles carry no containment signal
    anyway (the boilerplate_ngrams operator measures those instead).
    The threshold gate is INTEGER cross-multiplication
    (n_common·100 ≥ pct·min(n_a, n_b)); ``containment`` itself is one
    division of exact integers.

    Returns (doc_a, doc_b, n_common, n_a, n_b, containment).
    """
    sh = materialize(
        ensure_parallelism(df.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(F.array_distinct(_shingles(n=n))).alias("shingle"))
    )
    rare = (
        sh.groupBy("shingle")
        .agg(F.count("*").alias("df"))
        .where(F.col("df") <= max_df)
        .select("shingle")
    )
    toks = materialize(sh.join(rare, "shingle", "left_semi"))
    sizes = toks.groupBy("doc_id").agg(F.count("*").cast("long").alias("n_sh"))
    pairs = (
        toks.alias("a")
        .join(
            toks.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .where(
            F.col("n_common") * 100 >= min_pct * F.least("n_a", "n_b")
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (F.col("n_common").cast("double") / F.least("n_a", "n_b")).alias(
                "containment"
            ),
        )
    )


PREFIX_T_BP = 5000  # Jaccard threshold in basis points (0.5)


def prefix_filter_jaccard_pairs(
    df: DataFrame, n: int = SHINGLE_N, t_bp: int = PREFIX_T_BP
) -> DataFrame:
    """Threshold Jaccard join by POSITIONAL PREFIX FILTERING (the
    PPJoin/AllPairs candidate pruner, Xiao et al.) — the lossless way
    to run an exact similarity join at scale: order every document's
    shingles by GLOBAL rarity (df asc, shingle asc) and index only the
    first |A| − ceil(t·|A|) + 1 of them. Two sets with J ≥ t MUST
    share a prefix element under the same total order (pigeonhole on
    the required overlap ceil(t/(1+t)·(|A|+|B|))), so the prefix
    equi-join finds every qualifying pair — while indexing ~half the
    tokens, and preferentially the RAREST ones (small df ⇒ small
    join fan-out). Candidates are then verified with the exact
    Jaccard over the FULL sets.

    Contrast with ``jaccard_pairs``'s df CUTOFF (drops hot tokens,
    changing the measure) and ``ngram_containment_pairs``'s absolute
    cap: prefix filtering is EXACT — same answer as the naive full
    equi-join, strictly fewer candidates (the no-false-negative
    property is asserted against the unfiltered join in
    tests/test_prefix_filter.py).

    All thresholds are integer cross-multiplied (ceil(t·n) =
    (n·t_bp + 9999) div 10⁴; the verify gate n_common·10⁴ ≥
    t_bp·(n_a + n_b − n_common)); ``jaccard`` is one division.

    Returns (doc_a, doc_b, n_common, n_a, n_b, jaccard) for pairs
    with J ≥ t over distinct-shingle sets.
    """
    sh = materialize(
        ensure_parallelism(df.select("doc_id", "text"), "doc_id")
        .select("doc_id", F.explode(F.array_distinct(_shingles(n=n))).alias("shingle"))
    )
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    ranked = materialize(
        sh.join(dfreq, "shingle").select(
            "doc_id",
            "shingle",
            F.row_number()
            .over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("df").asc(), F.col("shingle").asc()
                )
            )
            .alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("doc_id")).alias("n_sh"),
        )
    )
    prefix = ranked.where(
        F.col("rn") <= F.expr(f"n_sh - ((n_sh * {t_bp} + 9999) div 10000) + 1")
    ).select("doc_id", "shingle")
    cand = (
        prefix.alias("a")
        .join(
            prefix.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    full = ranked.select("doc_id", "shingle")
    common = (
        cand.join(
            full.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
        )
        .join(
            full.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_common"))
    )
    sizes = ranked.groupBy("doc_id").agg(F.max("n_sh").cast("long").alias("n_sh"))
    return (
        common.join(
            sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a")),
            "doc_a",
        )
        .join(
            sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b")),
            "doc_b",
        )
        .where(
            F.col("n_common") * 10000
            >= t_bp * (F.col("n_a") + F.col("n_b") - F.col("n_common"))
        )
        .select(
            "doc_a",
            "doc_b",
            "n_common",
            "n_a",
            "n_b",
            (
                F.col("n_common").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_common"))
            ).alias("jaccard"),
        )
    )
