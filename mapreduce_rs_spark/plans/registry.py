"""Query registry: every implemented operator as (spark_fn, oracle_sql).

This is the engine's public query surface AND its correctness contract:
the driver runs each Spark query and its DuckDB oracle side-by-side at
sf0.01 and compares row count + schema + order-insensitive value hash
(``__spark_entry__.py`` docstring). Rules enforced here:

* every computed column is aliased IDENTICALLY in the Spark plan and in
  the SQL (the compare sorts columns by name);
* integer-width mismatches are resolved by explicit casts on the oracle
  side (DuckDB count/len/year return BIGINT where Spark returns INT, and
  sum(INTEGER) returns HUGEINT — always cast to the Spark type);
* float work is done in double on both sides, in the same accumulation
  shape, relying on the driver's tolerant float hashing only for ULP
  noise;
* hash values come from functions/hashing.py and its *_sql twins so both
  engines compute the same md5-derived integers.

Every registry query is oracled — oracle_sql() returns an entry for all
of them (since r06; the multimodal two-codec aggregate was the last
rows-only query and is now stated over SQL-predictable exact integers).
Queries whose KERNEL is not SQL-expressible (the Python map/reduce UDF
surface, the binary codecs) are oracled via an equivalent relational
restatement that the synthesis rules make exact.
"""

from __future__ import annotations

import dataclasses
from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rs_spark.functions.hashing import (
    h32_lane_sql,
    h32_sql,
    h64_sql,
    text_fingerprint_sql,
)
from mapreduce_rs_spark.operators import bloom, curation, dedup, events, graph, multimodal, relational, similarity
from mapreduce_rs_spark.operators.histogram_model import EQUI_DEPTH_CUTS
from mapreduce_rs_spark.operators import text_analysis as ta
from mapreduce_rs_spark.operators import sampling
from mapreduce_rs_spark.operators.mapreduce import rdd_word_count, word_count_mapreduce
from mapreduce_rs_spark.operators.partitioning import salted_group_count
from mapreduce_rs_spark.sources.catalog import load_table, load_tables

# ---------------------------------------------------------------------------
# Shared DuckDB SQL fragments (keep in sync with functions/text.py patterns)
# ---------------------------------------------------------------------------

# Whitespace as an EXPLICIT class — RE2's \s excludes \x0B where
# Java/Python include it (functions/text.py WS_CLASS rationale); these
# fragments must match CLEAN_PATTERN/SPLIT_PATTERN exactly.
WS_SQL = " \\t\\n\\x0B\\f\\r"
CLEAN_SQL = f"[^\\w{WS_SQL}]"
SPLIT_SQL = f"[{WS_SQL}]+"

# Token array per document, empties removed — the oracle twin of
# functions.text.tokens + the word<>'' filter.
TOKENS_SQL = (
    f"list_filter(string_split_regex(regexp_replace(text, '{CLEAN_SQL}', '', 'g'), "
    f"'{SPLIT_SQL}'), t -> t <> '')"
)

# The embedding as a double list — the oracle's one read of the column
# for arithmetic (twin of similarity._embd).
_EMB_SQL = "CAST(embedding AS DOUBLE[])"


def _toks_cte(source: str, *cols: str) -> str:
    """The one ``toks`` CTE: ``cols`` plus the token array ``tk`` per row
    of ``source`` (a table or CTE name carrying ``text``)."""
    return f"toks AS (SELECT {', '.join(cols)}, {TOKENS_SQL} AS tk FROM {source})"


def _slide_sql(arr: str, offsets: Sequence[int]) -> str:
    """The one oracle slide, twin of functions.text.slide: the
    space-joined elements of list ``arr`` at ``offsets`` from every
    position where all of them exist (``range(n)``: n-grams;
    ``(0, d)``: ordered pairs ``d`` apart)."""
    tup = " || ' ' || ".join(f"{arr}[i + {o}]" if o else f"{arr}[i]" for o in offsets)
    return f"list_transform(range(1, greatest(len({arr}) - {max(offsets)}, 0) + 1), i -> {tup})"


# The flagship word-count SQL — one definition for the four registry
# entries that are oracled against it (declarative, salted, RDD, UDF).
WORDCOUNT_SQL = f"""
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split_regex(regexp_replace(text, '{CLEAN_SQL}', '', 'g'), '{SPLIT_SQL}')) AS word
            FROM documents
        ) t WHERE word <> '' GROUP BY word ORDER BY word
        """

WORDS_CTE = f"""
WITH words AS (
    SELECT doc_id, lang, unnest({TOKENS_SQL}) AS word
    FROM documents
)
"""

# Order-independent money sums (twin of relational.money/stable_sum):
# decimal accumulation is exact, so the result is independent of
# partition count / accumulation order, and the single final cast to
# double is bit-identical between Spark and DuckDB (verified at sf0.01).
ONE_RATE = "CAST(1 AS DECIMAL(3,2))"


def _money(col: str) -> str:
    return f"CAST({col} AS DECIMAL(12,2))"


def _rate(col: str) -> str:
    return f"CAST({col} AS DECIMAL(3,2))"


def _stable_sum(expr: str) -> str:
    return f"CAST(sum({expr}) AS DOUBLE)"


def _stable_avg(expr: str) -> str:
    return f"CAST(sum({expr}) AS DOUBLE) / count(*)"


# lineitem discounted price / charge in exact decimal arithmetic.
DISC_PRICE_DEC = f"{_money('l_extendedprice')} * ({ONE_RATE} - {_rate('l_discount')})"
CHARGE_DEC = f"{DISC_PRICE_DEC} * ({ONE_RATE} + {_rate('l_tax')})"


def _curation_kept_ctes() -> str:
    """base→gated→kept CTE chain (no leading WITH): the quality →
    language → exact-dedup gates of operators/curation.curated_documents.
    THE single oracle-side definition of the curation gates — shared by
    curation_yield, curation_yield_neardup and pack_sequences so a gate
    change can't silently desynchronize one of the three. ``kept``
    carries (doc_id, lang, n_tokens, text)."""
    from mapreduce_rs_spark.operators import curation

    return f"""base AS (
            SELECT doc_id, lang, text,
                   CAST(len({TOKENS_SQL}) AS INTEGER) AS n_tokens,
                   length(regexp_replace(text, '[^\\w]', '', 'g')) / length(text) AS alpha_ratio,
                   {text_fingerprint_sql('text')} AS fp
            FROM documents
        ), gated AS (
            SELECT * FROM base
            WHERE n_tokens >= {curation.MIN_TOKENS}
              AND alpha_ratio >= {curation.MIN_ALPHA_RATIO}
              AND lang IN {tuple(curation.ALLOWED_LANGS)}
        ), kept AS (
            SELECT doc_id, lang, n_tokens, text FROM (
                SELECT *, min(doc_id) OVER (PARTITION BY fp) AS keep_id FROM gated
            ) g WHERE doc_id = keep_id
        )"""

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass(frozen=True)
class QuerySpec:
    """fn is the OPERATOR form — at scale, results stream to a sink and
    a deterministic total order is a sink/presentation concern, so the
    operators do not end in a global orderBy (a range sort adds a
    boundary-sampling job + a full extra exchange that a 100 TB pipeline
    writing parquet would never pay). ``sort`` is the presentation
    ordering the driver-facing ``queries()`` contract applies on top —
    it keeps the driver-visible output byte-identical to rounds 1-2,
    while the bench (bench.py) times ``fn`` itself: the plan you would
    actually run. The driver's value hash is order-insensitive
    (BASELINE.md gate t2), so correctness never depended on the sort."""

    fn: QueryFn
    oracle: str | None
    doc: str = ""
    sort: tuple[str, ...] = ()


def _tables(fn: Callable[[dict[str, DataFrame]], DataFrame]) -> QueryFn:
    """Adapt an operator taking the loaded-tables dict to (spark, sf_dir)."""

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_tables(spark, sf_dir))

    return run


def _docs(fn: Callable[[DataFrame], DataFrame]) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_table(spark, sf_dir, "documents"))

    return run


def _emb(fn: Callable[[DataFrame], DataFrame]) -> QueryFn:
    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(load_table(spark, sf_dir, "embeddings"))

    return run


# ---------------------------------------------------------------------------
# Oracle SQL builders for the hash-heavy queries
# ---------------------------------------------------------------------------

def _shingles_ctes(n: int = dedup.SHINGLE_N, source: str = "documents") -> str:
    """toks→shingles CTE chain WITHOUT the leading WITH, so callers can
    embed it anywhere in a larger chain. ``source`` is the relation
    (table or CTE name) carrying (doc_id, text)."""
    return f"""{_toks_cte(source, 'doc_id')}, shingles AS (
    SELECT doc_id, unnest({_slide_sql('tk', range(n))}) AS shingle FROM toks
)"""


def _shingles_sql(n: int = dedup.SHINGLE_N, source: str = "documents") -> str:
    return f"\nWITH {_shingles_ctes(n, source)}\n"


def _pmi_sql(window: int) -> str:
    """Oracle of ``ta.skipgram_pmi(df, window)`` at the default
    ``min_pair``: one pair slide per distance 1..window, unigram
    marginals, PMI in the operator's ln-difference form."""
    legs = "\n            UNION ALL\n            ".join(
        f"SELECT unnest({_slide_sql('tk', (0, d))}) AS pair FROM toks" for d in range(1, window + 1)
    )
    return f"""
        WITH {_toks_cte('documents', 'doc_id')}, grams AS (
            {legs}
        ), sg AS (
            SELECT pair, count(*) AS n_xy FROM grams GROUP BY pair
        ), words AS (
            SELECT unnest(tk) AS word FROM toks
        ), uni AS (
            SELECT word, count(*) AS n_w FROM words GROUP BY word
        ), totals AS (
            SELECT (SELECT count(*) FROM words) AS t_uni,
                   (SELECT sum(n_xy) FROM sg) AS t_pairs
        )
        SELECT split_part(pair, ' ', 1) AS w1,
               split_part(pair, ' ', 2) AS w2,
               n_xy,
               fa.n_w AS n_x,
               fb.n_w AS n_y,
               ln(CAST(n_xy AS DOUBLE)) + 2 * ln(CAST(t_uni AS DOUBLE))
               - ln(CAST(t_pairs AS DOUBLE)) - ln(CAST(fa.n_w AS DOUBLE))
               - ln(CAST(fb.n_w AS DOUBLE)) AS pmi
        FROM sg
        JOIN uni fa ON split_part(pair, ' ', 1) = fa.word
        JOIN uni fb ON split_part(pair, ' ', 2) = fb.word
        CROSS JOIN totals
        WHERE n_xy >= 3
        """


# The multimodal oracles' documents: a NULL document synthesizes from
# '' (no bytes), the way the tokenizers read it as no tokens.
_SYNTH_DOCS = "(SELECT * REPLACE (coalesce(text, '') AS text) FROM documents) AS documents"


def _gif_frames_ctes() -> str:
    """Per-(doc, frame) reconstruction of attach_gif_payload's synthesis
    from raw text, WITHOUT the leading WITH — ends in ``gif_sums``
    (doc_id, frame_idx, width, height, npix, len, sum_px, delay_cs).
    Frame f's pixels are the tiled byte stream over [f·npix, (f+1)·npix):
    the window sum is whole-repetition count times the full-text sum
    plus a prefix-sum difference. Shared by gif_frame_stats AND
    video_frame_sample (the shared-builder rule: an evaluator never
    hand-copies the formula it verifies)."""
    return f"""gif_base AS (
    SELECT doc_id, text, length(text) AS len,
           CAST(length(text) % 10 + 1 AS INTEGER) AS width,
           CAST(length(text) % 6 + 1 AS INTEGER) AS height,
           CAST(length(text) % 4 + 1 AS INTEGER) AS n_frames
    FROM {_SYNTH_DOCS}
), gif_per_frame AS (
    SELECT b.doc_id, b.text, b.len, b.width, b.height,
           CAST(fr.f AS INTEGER) AS frame_idx,
           b.width * b.height AS npix,
           fr.f * b.width * b.height AS a,
           (fr.f + 1) * b.width * b.height AS bnd
    FROM gif_base b
    CROSS JOIN (VALUES (0), (1), (2), (3)) AS fr(f)
    WHERE fr.f < b.n_frames
), gif_sums AS (
    SELECT doc_id, frame_idx, width, height, npix, len,
           CAST((CASE WHEN len = 0 THEN 0 ELSE (bnd // len - a // len) END)
                * COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                     i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0)
                + COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE bnd % len END + 1),
                     i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0)
                - COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE a % len END + 1),
                     i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0)
               AS BIGINT) AS sum_px,
           (len + frame_idx) % 100 AS delay_cs
    FROM gif_per_frame
)"""


def _minhash_mins(k: int) -> str:
    """The k min-hash aggregate expressions — lane-packed md5 family,
    twin of dedup.minhash_signatures' h32_lane(i % 4, i // 4)."""
    return ",\n       ".join(
        f"min({h32_lane_sql('shingle', lane=i % 4, seed_group=i // 4)}) AS mh{i}"
        for i in range(k)
    )


def _minhash_sql(k: int = dedup.MINHASH_SEEDS) -> str:
    return f"""{_shingles_sql()}
SELECT doc_id, {_minhash_mins(k)}
FROM shingles GROUP BY doc_id ORDER BY doc_id
"""


def _minhash_pairs_ctes(
    k: int = dedup.MINHASH_SEEDS,
    band_size: int = dedup.MINHASH_BAND_SIZE,
    source: str = "documents",
) -> str:
    """The toks→shingles→sigs→banded CTE chain (no final SELECT) so the
    pair join can be embedded in larger compositions."""
    # Band keys derived from band_size (not hardcoded to 2 values) so a
    # non-default call keeps the (spark_fn, oracle) pair in lockstep.
    band_rows = "\n    UNION ALL\n    ".join(
        "SELECT doc_id, {b} AS band, {key} AS band_key FROM sigs".format(
            b=b,
            key=" || ',' || ".join(
                f"CAST(mh{b * band_size + j} AS VARCHAR)" for j in range(band_size)
            ),
        )
        for b in range(k // band_size)
    )
    return f"""{_shingles_ctes(source=source)}, sigs AS (
    SELECT doc_id, {_minhash_mins(k)}
    FROM shingles GROUP BY doc_id
), banded AS (
    {band_rows}
)"""


def _minhash_pairs_sql(k: int = dedup.MINHASH_SEEDS, band_size: int = dedup.MINHASH_BAND_SIZE) -> str:
    return f"""
WITH {_minhash_pairs_ctes(k, band_size)}
SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
FROM banded l JOIN banded r
  ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
ORDER BY doc_a, doc_b
"""


def _cc_comp_ctes(rounds: int = graph.CC_MAX_ITER) -> str:
    """Unrolled min-label-propagation closure (no leading WITH) — the
    oracle twin of ``graph.connected_components``: the SAME update rule
    (component = least(own, min over neighbors' labels)) with the SAME
    iteration cap, each round a MATERIALIZED CTE. Replaces the r04
    recursive reachability closure (``reach(doc_id, r)``), which
    materialized O(Σ|component|²) rows — the r09 sf3.0 sweep's oracle
    ceiling: curation_yield_neardup's single-process replay over 150 k
    docs did not finish in 30 min; this form is O(rounds · |E|).
    Requires an ``edges``(src, dst) CTE carrying BOTH directions;
    emits l0..l{rounds} and ``comp``(doc_id, component). If the graph
    needed more than ``rounds`` iterations the Spark side RAISES
    (connected_components' convergence guard), so the capped unroll
    can never silently diverge from it."""
    parts = [
        """l0 AS MATERIALIZED (
            SELECT DISTINCT src AS doc_id, src AS component FROM edges
        )"""
    ]
    for i in range(rounds):
        parts.append(f"""l{i + 1} AS MATERIALIZED (
            SELECT l.doc_id,
                   least(l.component,
                         coalesce(min(ln.component), l.component)) AS component
            FROM l{i} l
            LEFT JOIN edges e ON e.src = l.doc_id
            LEFT JOIN l{i} ln ON ln.doc_id = e.dst
            GROUP BY l.doc_id, l.component
        )""")
    parts.append(f"comp AS (SELECT doc_id, component FROM l{rounds})")
    return ",\n        ".join(parts)


def _simhash_sql(bits: int = dedup.SIMHASH_BITS) -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}" for b in range(bits)
    )
    sig = " + ".join(f"CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END" for b in range(bits))
    return f"""{WORDS_CTE}, hashed AS (
    SELECT doc_id, {h64_sql('word')} AS h FROM words
), votes AS (
    SELECT doc_id, {votes} FROM hashed GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM votes ORDER BY doc_id
"""


def _winnow_sql(k: int = 4) -> str:
    """Oracle twin of dedup.winnow_fingerprints — k interpolated, not
    hardcoded, so non-default calls stay in lockstep."""
    return f"""{_shingles_sql()}, hashed AS (
            SELECT DISTINCT doc_id, {h32_sql('shingle')} AS h FROM shingles
        ), ranked AS (
            SELECT doc_id, h, row_number() OVER (PARTITION BY doc_id ORDER BY h) AS rn
            FROM hashed
        )
        SELECT doc_id, string_agg(CAST(h AS VARCHAR), ',' ORDER BY h) AS fingerprint
        FROM ranked WHERE rn <= {k} GROUP BY doc_id ORDER BY doc_id
        """


def _jaccard_sql(
    threshold: float = 0.5,
    max_df_frac: float = dedup.JACCARD_MAX_DF_FRAC,
    max_df_abs: int = dedup.JACCARD_MAX_DF_ABS,
) -> str:
    """Oracle twin of dedup.jaccard_pairs: distinctive-token Jaccard
    with the same per-language document-frequency cutoff and the same
    absolute posting cap (a no-op at driver scales)."""
    return f"""
        WITH toks_all AS (
            SELECT DISTINCT doc_id, lang, unnest({TOKENS_SQL}) AS word FROM documents
        ), lang_totals AS (
            SELECT lang, count(*) AS n_docs_lang FROM documents GROUP BY lang
        ), word_df AS (
            SELECT lang, word, count(*) AS df FROM toks_all GROUP BY lang, word
        ), toks AS (
            SELECT t.doc_id, t.lang, t.word
            FROM toks_all t
            JOIN word_df d ON t.lang = d.lang AND t.word = d.word
            JOIN lang_totals lt ON t.lang = lt.lang
            WHERE d.df <= {max_df_frac} * lt.n_docs_lang
              AND d.df <= {max_df_abs}
        ), sizes AS (
            SELECT doc_id, count(*) AS n_tokens FROM toks GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_common
            FROM toks a JOIN toks b
              ON a.word = b.word AND a.lang = b.lang AND a.doc_id < b.doc_id
            GROUP BY a.doc_id, b.doc_id
        )
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (sa.n_tokens + sb.n_tokens - n_common) AS jaccard
        FROM pairs
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_tokens + sb.n_tokens - n_common) >= {threshold}
        ORDER BY doc_a, doc_b
        """


def _simhash_pairs_sql(
    max_hamming: int = 3,
    band_bits: int = dedup.SIMHASH_BAND_BITS,
    max_bucket: int = dedup.SIMHASH_MAX_BUCKET,
) -> str:
    """Oracle twin of dedup.simhash_near_pairs — band list, distance
    threshold and the saturated-bucket guard all derived from the
    operator's parameters (lockstep convention; the guard is a no-op at
    driver scales, where buckets cannot exceed the 500-doc corpus)."""
    n_bands = dedup.SIMHASH_BITS // band_bits
    band_values = ", ".join(f"({b})" for b in range(n_bands))
    return f"""
        WITH sigs AS (
            {_simhash_sql()}
        ), banded_all AS (
            SELECT doc_id, simhash, band,
                   (simhash >> (band * {band_bits})) & {(1 << band_bits) - 1} AS band_val
            FROM sigs, (VALUES {band_values}) b(band)
        ), oversized AS (
            SELECT band, band_val FROM banded_all
            GROUP BY 1, 2 HAVING count(*) > {max_bucket}
        ), banded AS (
            SELECT * FROM banded_all a
            WHERE NOT EXISTS (SELECT 1 FROM oversized o
                              WHERE o.band = a.band AND o.band_val = a.band_val)
        )
        SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b,
               CAST(bit_count(xor(l.simhash, r.simhash)) AS INTEGER) AS hamming
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_val = r.band_val AND l.doc_id < r.doc_id
        WHERE bit_count(xor(l.simhash, r.simhash)) <= {max_hamming}
        ORDER BY doc_a, doc_b
        """


def _cosine_sql(a: str, b: str) -> str:
    return (
        f"list_dot_product({a}, {b}) / "
        f"(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
    )


def _plane_literal(plane: list[float]) -> str:
    return "[" + ", ".join(f"CAST({x} AS DOUBLE)" for x in plane) + "]"


def _bucket_sql(emb_expr: str, planes: list[list[float]]) -> str:
    bits = " + ".join(
        f"CASE WHEN list_dot_product({emb_expr}, {_plane_literal(p)}) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def _lang_id_core_sql() -> str:
    """Per-doc language prediction WITHOUT the presentation ORDER BY —
    shared by the language_id oracle and the confusion-matrix oracle
    (the ann_recall no-hand-copy rule: the evaluator reuses the SAME
    builder as the thing it evaluates)."""
    selects = []
    for lang, markers in sorted(ta.LANG_MARKERS.items()):
        hits = " + ".join(
            f"CAST((length(p) - length(replace(p, ' {m} ', ''))) // {len(m) + 2} AS BIGINT)"
            for m in markers
        )
        selects.append(
            f"SELECT doc_id, lang_actual, '{lang}' AS lang_pred, ({hits}) AS marker_hits FROM padded"
        )
    union = "\n    UNION ALL\n    ".join(selects)
    return f"""
WITH padded AS (
    SELECT doc_id, lang AS lang_actual, ' ' || text || ' ' AS p FROM documents
), scores AS (
    {union}
), ranked AS (
    SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY marker_hits DESC, lang_pred DESC) AS rn
    FROM scores
)
SELECT doc_id, lang_actual, lang_pred, marker_hits FROM ranked WHERE rn = 1
"""


def _lang_id_sql() -> str:
    return _lang_id_core_sql() + " ORDER BY doc_id\n"


def _lang_confusion_sql() -> str:
    return f"""
        WITH pred AS ({_lang_id_core_sql()})
        SELECT lang_actual, lang_pred,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(*) * 10000
                    // sum(count(*)) OVER (PARTITION BY lang_actual)
                    AS BIGINT) AS share_bp
        FROM pred GROUP BY lang_actual, lang_pred
        """


def _kmv_sql(k: int = 64) -> str:
    """Oracle twin of events.kmv_distinct_users — k and (k-1)·2^32 are
    derived from the parameter, keeping non-default calls in lockstep."""
    return f"""
        WITH hashed AS (
            SELECT DISTINCT event_type,
                   {h32_sql("CAST(user_id AS VARCHAR)")} AS h
            FROM events
        ), ranked AS (
            SELECT event_type, h,
                   row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn
            FROM hashed
        ), kth AS (
            SELECT event_type,
                   max(CASE WHEN rn = {k} THEN h END) AS kth_min,
                   count(*) AS n_distinct_exact
            FROM ranked GROUP BY event_type
        )
        SELECT event_type,
               CASE WHEN kth_min IS NOT NULL THEN {k - 1} * 4294967296.0 / kth_min
                    ELSE CAST(n_distinct_exact AS DOUBLE) END AS kmv_estimate,
               n_distinct_exact
        FROM kth ORDER BY event_type
        """


def _theta_sql(k: int = events.THETA_K) -> str:
    """Oracle twin of events.theta_daily_overlap — k and every derived
    literal ((k-1)·2^32, the exact-branch theta) come from the operator's
    parameter so non-default calls stay in lockstep."""
    h = h32_sql("CAST(user_id AS VARCHAR)")
    return f"""
        WITH daily AS MATERIALIZED (
            SELECT DISTINCT CAST(date_trunc('day', ts) AS DATE) AS day, user_id
            FROM events
        ), hashed AS (
            SELECT day, {h} AS h FROM daily
        ), ranked AS (
            SELECT day, h,
                   row_number() OVER (PARTITION BY day ORDER BY h) AS rn
            FROM hashed
        ), sk AS MATERIALIZED (
            SELECT day, h FROM ranked WHERE rn <= {k}
        ), stats AS (
            SELECT day,
                   CASE WHEN count(*) >= {k} THEN max(h)
                        ELSE 4294967296 END AS theta
            FROM sk GROUP BY day
        ), exact AS (
            SELECT day, count(*) AS n_exact FROM daily GROUP BY day
        ), pairs AS (
            SELECT a.day AS day_a, b.day AS day_b,
                   least(a.theta, b.theta) AS theta
            FROM stats a JOIN stats b ON a.day = b.day - 1
        ), common AS MATERIALIZED (
            SELECT sa.day AS day_a, sa.h
            FROM sk sa JOIN sk sb ON sb.day = sa.day + 1 AND sb.h = sa.h
        ), ncommon AS (
            SELECT c.day_a, count(*) AS n_common
            FROM common c JOIN pairs p ON p.day_a = c.day_a
            WHERE c.h < p.theta GROUP BY c.day_a
        ), m_all AS (
            SELECT DISTINCT day_a, h FROM (
                SELECT day AS day_a, h FROM sk
                UNION ALL
                SELECT day - 1 AS day_a, h FROM sk
            )
        ), m_ranked AS (
            SELECT day_a, h,
                   row_number() OVER (PARTITION BY day_a ORDER BY h) AS rn
            FROM m_all
        ), m_sk AS MATERIALIZED (
            SELECT day_a, h FROM m_ranked WHERE rn <= {k}
        ), m_stats AS (
            SELECT day_a, count(*) AS n_m, max(h) AS kth_m
            FROM m_sk GROUP BY day_a
        ), m_both AS (
            SELECT m.day_a, count(*) AS n_both
            FROM m_sk m JOIN common c ON c.day_a = m.day_a AND c.h = m.h
            GROUP BY m.day_a
        ), inter_exact AS (
            SELECT wa.day AS day_a, count(*) AS n_inter_exact
            FROM daily wa
            JOIN daily wb ON wb.day = wa.day + 1 AND wb.user_id = wa.user_id
            GROUP BY wa.day
        )
        SELECT p.day_a, p.day_b,
               ea.n_exact AS n_a_exact,
               eb.n_exact AS n_b_exact,
               COALESCE(ie.n_inter_exact, 0) AS n_inter_exact,
               ea.n_exact + eb.n_exact - COALESCE(ie.n_inter_exact, 0)
                   AS n_union_exact,
               p.theta,
               COALESCE(nc.n_common, 0) AS n_common,
               COALESCE(nc.n_common, 0) * 4294967296.0 / p.theta AS inter_est,
               CASE WHEN ms.n_m >= {k}
                    THEN {float(k - 1)!r} * 4294967296.0 / ms.kth_m
                    ELSE CAST(ms.n_m AS DOUBLE) END AS union_est,
               (COALESCE(mb.n_both, 0) * 10000) // ms.n_m AS jacc_bp
        FROM pairs p
        JOIN exact ea ON ea.day = p.day_a
        JOIN exact eb ON eb.day = p.day_b
        LEFT JOIN inter_exact ie ON ie.day_a = p.day_a
        LEFT JOIN ncommon nc ON nc.day_a = p.day_a
        JOIN m_stats ms ON ms.day_a = p.day_a
        LEFT JOIN m_both mb ON mb.day_a = p.day_a
        ORDER BY p.day_a
        """


def _cms_sql() -> str:
    """Oracle twin of ta.cms_word_counts — the w/d/top parameters and
    the 4-lane hash scheme derive from the operator's constants. Uses
    CMS_W_AUDIT so collisions (the behavior under test) actually occur
    on the test vocabulary — see the constant's rationale."""
    w, d, top = ta.CMS_W_AUDIT, ta.CMS_D, ta.CMS_TOP
    cell_legs = "\n            UNION ALL ".join(
        f"SELECT {lane} AS lane, {h32_lane_sql('word', lane)} % {w} AS col, cnt FROM wc"
        for lane in range(d)
    )
    probe_legs = "\n            UNION ALL ".join(
        f"SELECT word, cnt, {lane} AS lane, {h32_lane_sql('word', lane)} % {w} AS col FROM top_words"
        for lane in range(d)
    )
    return f"""
        WITH wc AS MATERIALIZED (
            SELECT word, count(*) AS cnt FROM (
                SELECT unnest({TOKENS_SQL}) AS word FROM documents
            ) GROUP BY word
        ), cells AS (
            {cell_legs}
        ), sketch AS (
            SELECT lane, col, CAST(sum(cnt) AS BIGINT) AS counter
            FROM cells GROUP BY lane, col
        ), top_words AS (
            SELECT word, cnt FROM wc ORDER BY cnt DESC, word LIMIT {top}
        ), probes AS (
            {probe_legs}
        ), est AS (
            SELECT p.word, p.cnt, min(s.counter) AS est_cnt
            FROM probes p JOIN sketch s ON p.lane = s.lane AND p.col = s.col
            GROUP BY p.word, p.cnt
        )
        SELECT word, CAST(cnt AS BIGINT) AS true_cnt, est_cnt,
               CAST(est_cnt - cnt AS BIGINT) AS overcount
        FROM est ORDER BY true_cnt DESC, word
        """


def _hll_sql() -> str:
    """Oracle twin of events.hll_distinct_users — m, the rank formula
    and the scale literal all derive from the operator's constants, so
    the two sides cannot drift. repr(HLL_SCALE) round-trips the double
    exactly; the estimate is then ONE division from exact integers,
    bit-identical across engines (ln/pow would not be)."""
    m, rmax = events.HLL_M, events.HLL_MAX_RANK
    return f"""
        WITH hashed AS (
            SELECT event_type, h % {m} AS bucket, h // {m} AS w FROM (
                SELECT event_type,
                       {h64_sql("CAST(user_id AS VARCHAR)")} AS h
                FROM events
            )
        ), regs AS (
            SELECT event_type, bucket,
                   max(CASE WHEN w = 0 THEN {rmax}
                            ELSE {rmax} - length(bin(w)) END) AS reg
            FROM hashed GROUP BY event_type, bucket
        ), sums AS (
            SELECT event_type,
                   CAST(count(*) AS INTEGER) AS n_nonzero_buckets,
                   CAST(sum(CAST(1 AS BIGINT) << ({rmax} - reg))
                        + ({m} - count(*)) * (CAST(1 AS BIGINT) << {rmax})
                        AS BIGINT) AS indicator_s
            FROM regs GROUP BY event_type
        ), exact AS (
            SELECT event_type,
                   count(DISTINCT user_id) AS n_distinct_exact
            FROM events GROUP BY event_type
        )
        SELECT event_type, n_nonzero_buckets, indicator_s,
               {events.HLL_SCALE!r} / CAST(indicator_s AS DOUBLE) AS hll_estimate,
               CAST(n_distinct_exact AS BIGINT) AS n_distinct_exact
        FROM sums JOIN exact USING (event_type)
        ORDER BY event_type
        """


def _hll_rollup_sql() -> str:
    """Oracle twin of events.hll_rollup_merge: day-grain registers
    rolled up to weeks by max vs week registers straight from raw —
    the hash pins the merge identity bit-for-bit. Same parameter-derived
    construction as _hll_sql (shared m / rank formula / scale literal)."""
    m, rmax = events.HLL_M, events.HLL_MAX_RANK
    ind = (
        f"CAST(sum(CAST(1 AS BIGINT) << ({rmax} - reg))"
        f" + ({m} - count(*)) * (CAST(1 AS BIGINT) << {rmax}) AS BIGINT)"
    )
    return f"""
        WITH ranked AS (
            SELECT date_trunc('week', ts) AS week,
                   date_trunc('day', ts) AS day,
                   event_type, h % {m} AS bucket,
                   CASE WHEN h // {m} = 0 THEN {rmax}
                        ELSE {rmax} - length(bin(h // {m})) END AS rank
            FROM (
                SELECT ts, event_type,
                       {h64_sql("CAST(user_id AS VARCHAR)")} AS h
                FROM events
            )
        ), day_regs AS (
            SELECT week, day, event_type, bucket, max(rank) AS reg
            FROM ranked GROUP BY 1, 2, 3, 4
        ), week_merged AS (
            SELECT week, event_type, bucket, max(reg) AS reg
            FROM day_regs GROUP BY 1, 2, 3
        ), week_direct AS (
            SELECT week, event_type, bucket, max(rank) AS reg
            FROM ranked GROUP BY 1, 2, 3
        ), est_m AS (
            SELECT week, event_type, {ind} AS ind_merged
            FROM week_merged GROUP BY week, event_type
        ), est_d AS (
            SELECT week, event_type, {ind} AS ind_direct
            FROM week_direct GROUP BY week, event_type
        ), exact AS (
            SELECT date_trunc('week', ts) AS week, event_type,
                   count(DISTINCT user_id) AS n_distinct_exact
            FROM events GROUP BY 1, 2
        )
        SELECT week, event_type, ind_merged,
               {events.HLL_SCALE!r} / CAST(ind_merged AS DOUBLE) AS est_merged,
               ind_direct,
               {events.HLL_SCALE!r} / CAST(ind_direct AS DOUBLE) AS est_direct,
               CAST(n_distinct_exact AS BIGINT) AS n_distinct_exact
        FROM est_m
        JOIN est_d USING (week, event_type)
        JOIN exact USING (week, event_type)
        ORDER BY week, event_type
        """


_PLANES = similarity.hyperplanes()
_CENTROIDS = similarity.centroids()


def _qids_cte(src: str = "v", cap: int = similarity.N_QUERIES_CAP) -> str:
    """KMV query-id CTE (no leading WITH) — oracle twin of
    similarity._query_set: the ``cap`` vec_ids with the smallest
    portable hash h32(vec_id). ``src`` is any relation carrying vec_id.
    Every knn_* oracle filters its query side with
    ``vec_id IN (SELECT q_id FROM qids)`` so the sample definition
    cannot drift between tiers."""
    return (
        f"qids AS (SELECT vec_id AS q_id FROM {src} ORDER BY "
        f"{h32_sql('CAST(vec_id AS VARCHAR)')}, vec_id LIMIT {cap})"
    )


_QFILTER = "vec_id IN (SELECT q_id FROM qids)"


def _ivf_assigned_cte() -> str:
    """CTE assigning each vector its argmax-dot centroid (tie → higher
    cid, mirroring greatest() over (score, cid) structs in Spark)."""
    score_rows = "\n            UNION ALL\n            ".join(
        f"SELECT vec_id, emb, {i} AS cid, list_dot_product(emb, {_plane_literal(c)}) AS score FROM v"
        for i, c in enumerate(_CENTROIDS)
    )
    return f"""
        WITH v AS (
            SELECT vec_id, {_EMB_SQL} AS emb FROM embeddings
        ), cscores AS (
            {score_rows}
        ), assigned AS (
            SELECT vec_id, emb, cid AS centroid_id FROM (
                SELECT vec_id, emb, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
                FROM cscores
            ) r WHERE rn = 1
        )"""

def _gi_sql(
    k: int = similarity.NND_K,
    beam: int = similarity.NND_BEAM,
    hops: int = similarity.NND_HOPS,
    n_batches: int = similarity.NND_INGEST_BATCHES,
) -> str:
    """Oracle twin of similarity.knn_graph_ingest: the NN-Descent chain
    built over the STANDING split (vec_id % 10 < 8 — `_nnd_ctes`
    reused with a corpus filter, the builder-reuse rule), the NEW split
    as beam-search admission queries (the shared `_beam_hop_parts`
    unroll with the whole new split instead of the KMV cap), then the
    per-micro-batch maintenance rollup: edges created, quantized
    best-cos mass, reverse-edge pressure vs the standing worst edges,
    capped-eval recall, cumulative growth + integer rebuild decision.
    Every knob f-string-derived from the similarity.py constants."""
    chain, last = _nnd_ctes(corpus_where=" WHERE vec_id % 10 < 8")
    num, den = similarity.GRAPH_REBUILD_GROWTH
    emb = _EMB_SQL
    hop_parts = _beam_hop_parts("nq", beam, hops)
    parts = [
        f"""{chain}, nq AS MATERIALIZED (
            SELECT vec_id AS q_id, {emb} AS q_emb,
                   {_bucket_sql(emb, _PLANES)} AS q_bucket,
                   CAST((vec_id // 10) % {n_batches} AS INTEGER) AS batch_id
            FROM embeddings WHERE vec_id % 10 >= 8
        ), worst AS MATERIALIZED (
            SELECT src AS cand, min(cos_sim) AS worst_cos
            FROM {last} GROUP BY src
        ), g AS MATERIALIZED (
            SELECT src AS gsrc, dst AS gdst FROM {last}
        ), """ + hop_parts[0]
    ] + hop_parts[1:]
    parts.append(f"""found AS MATERIALIZED (
            SELECT q_id, cand, cs FROM (
                SELECT q_id, cand, cs,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY cs DESC, cand) AS rnk
                FROM f{hops}) r WHERE rnk <= {k}
        ), qcap AS MATERIALIZED (
            SELECT q_id FROM nq ORDER BY
                {h32_sql('CAST(q_id AS VARCHAR)')}, q_id LIMIT {similarity.N_QUERIES_CAP}
        ), exact AS (
            SELECT q_id, cand FROM (
                SELECT c.q_id, v.vec_id AS cand,
                       row_number() OVER (PARTITION BY c.q_id
                           ORDER BY {_cosine_sql('nq.q_emb', 'v.emb')} DESC, v.vec_id) AS rn
                FROM qcap c JOIN nq ON nq.q_id = c.q_id CROSS JOIN v
            ) r WHERE rn <= {k}
        ), evald AS (
            SELECT c.q_id, CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit
            FROM qcap c LEFT JOIN (
                SELECT q_id, count(*) AS n_hit
                FROM found JOIN exact USING (q_id, cand) GROUP BY q_id
            ) h USING (q_id)
        ), perv AS (
            SELECT q_id, CAST(count(*) AS BIGINT) AS n_edges,
                   CAST(round(max(cs) * 10000, 0) AS BIGINT) AS best_cos_bp
            FROM found GROUP BY q_id
        ), rev AS (
            SELECT q_id, CAST(count(*) AS BIGINT) AS n_rev
            FROM found f JOIN worst w ON f.cand = w.cand
            WHERE f.cs > w.worst_cos GROUP BY q_id
        ), per_batch AS (
            SELECT batch_id,
                   CAST(count(*) AS BIGINT) AS n_vectors,
                   CAST(coalesce(sum(p.n_edges), 0) AS BIGINT) AS n_edges,
                   CAST(coalesce(sum(p.best_cos_bp), 0) AS BIGINT) AS sum_best_cos_bp,
                   CAST(coalesce(sum(r.n_rev), 0) AS BIGINT) AS n_rev_improved,
                   CAST(count(e.n_hit) AS BIGINT) AS n_eval,
                   CAST(sum(e.n_hit) AS BIGINT) AS n_hit
            FROM nq LEFT JOIN perv p USING (q_id)
                    LEFT JOIN rev r USING (q_id)
                    LEFT JOIN evald e USING (q_id)
            GROUP BY batch_id
        ), standing AS (
            SELECT CAST(count(*) AS BIGINT) AS n_standing FROM v
        )
        SELECT batch_id, n_vectors, n_edges, sum_best_cos_bp, n_rev_improved,
               n_eval,
               CASE WHEN n_eval > 0
                    THEN n_hit * 10000 // ({k} * n_eval) END AS recall_bp,
               cum_new * 10000 // n_standing AS cum_growth_bp,
               (cum_new * {den} >= n_standing * {num}) AS rebuild_needed
        FROM (
            SELECT *, CAST(sum(n_vectors) OVER (ORDER BY batch_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                      AS BIGINT) AS cum_new
            FROM per_batch
        ) b CROSS JOIN standing
        ORDER BY batch_id
        """)
    return ",\n        ".join(parts)


# Oracle twins of similarity.py's integer micro-unit builders (`_q`,
# `_qdot_sql`, `_norm2_sql`, `_renorm_sql`, `_qpair`, `_within_tau`,
# `_qcos`, `_drop_report`): a coordinate is round(x · DRIFT_SCALE) as
# BIGINT, dots are list_dot_product over the integer lists cast to
# double (exact below 2^53: |term| <= ~5.5e12, 64 terms), squared norms
# accumulate as HUGEINT and cos >= tau is an integer cross-multiply.


def _q_sql(x: str) -> str:
    """The double ``x`` as integer micro-units."""
    return f"CAST(round({x} * {float(similarity.DRIFT_SCALE)!r}, 0) AS BIGINT)"


def _qv_sql(arr: str = _EMB_SQL) -> str:
    """The double list ``arr`` quantized element-wise."""
    return f"list_transform({arr}, x -> {_q_sql('x')})"


def _qdot_sql(a: str, b: str) -> str:
    """The exact dot of two quantized lists."""
    return f"list_dot_product(CAST({a} AS DOUBLE[]), CAST({b} AS DOUBLE[]))"


# Σ qv² as an exact HUGEINT
_QNORM2_SQL = "list_sum(list_transform(qv, x -> CAST(x AS HUGEINT) * x))"


def _renorm_sql(arr: str, ss: str) -> str:
    """The integer list ``arr`` with squared norm ``ss`` rescaled to a
    unit micro-unit vector."""
    return f"list_transform({arr}, s -> {_q_sql(f'CAST(s AS DOUBLE) / sqrt(CAST({ss} AS DOUBLE))')})"


def _argmax_sql(src: str, join: str, cols: str = "vec_id, qv, cid", v: str = "v") -> str:
    """Assignment of the quantized vectors ``src`` (alias ``v``) to the
    centroids ``c`` of ``join``: each vector's exact-dot argmax, ties ->
    higher cid, as ``cols`` over (vec_id, qv, cid, cq, score)."""
    dot = _qdot_sql(f"{v}.qv", "c.cq")
    return f"""SELECT {cols} FROM (
                SELECT {v}.vec_id, {v}.qv, c.cid, c.cq, {dot} AS score,
                       row_number() OVER (PARTITION BY {v}.vec_id
                           ORDER BY {dot} DESC, c.cid DESC) AS rn
                FROM {src} {join}
            ) r WHERE rn = 1"""


def _qpair_sql(a: str, b: str) -> str:
    """(dt, na, nb) of a join of ``a`` and ``b``, each carrying (qv, nrm2)."""
    return (
        f"CAST({_qdot_sql(f'{a}.qv', f'{b}.qv')} AS HUGEINT) AS dt, "
        f"{a}.nrm2 AS na, {b}.nrm2 AS nb"
    )


def _within_tau_sql(tau_frac: tuple[int, int]) -> str:
    """cos >= num/den over (dt, na, nb), zero-norm sides never pass."""
    num, den = tau_frac
    return f"na > 0 AND nb > 0 AND dt >= 0 AND dt * dt * {den * den} >= na * nb * {num * num}"


_QCOS_SQL = "CAST(dt AS DOUBLE) / sqrt(CAST(na * nb AS DOUBLE)) AS cos_sim"


def _drop_report_sql(
    src: str, cid: str, n: str = "n_vectors", rest: str = "n_kept"
) -> str:
    """The per-cluster audit of CTE ``src`` (cluster column ``cid``)
    against the ``dropped`` CTE: semdedup's (n_vectors, n_kept) or, with
    ``n``/``rest`` = n_ingested/n_admitted, the ingest audit's."""
    hit = "CASE WHEN d.vec_id IS NOT NULL THEN 1 ELSE 0 END"
    return f"""SELECT s.{cid} AS centroid_id,
               CAST(count(*) AS BIGINT) AS {n},
               CAST(sum({hit}) AS BIGINT) AS n_dropped,
               CAST(count(*) - sum({hit}) AS BIGINT) AS {rest},
               CAST(sum({hit}) AS DOUBLE) / NULLIF(count(*), 0) AS drop_ratio
        FROM {src} s LEFT JOIN dropped d ON s.vec_id = d.vec_id
        GROUP BY s.{cid}"""


def _dkm_ctes(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> tuple[str, str]:
    """The Lloyd-round CTE chain shared by the refit-report oracle
    (`_dkm_sql`), the quality-eval oracle (`_dkm_eval_sql`) and the
    refit-serve oracle (`_ivf_refit_sql`) — the _nnd_ctes convention:
    returns (with_clause, final_centroid_cte). Rounds unrolled as
    MATERIALIZED CTEs (assignment cross-join re-reads v and the
    centroid state per round — the clone rule). Init centroids are
    kmeans_init_q() (the shipped literals quantized to micro-units),
    round count KMEANS_DIST_ROUNDS; assignment is `_argmax_sql`."""
    init = "\n            UNION ALL ".join(
        f"SELECT {i} AS cid, [{', '.join(str(x) for x in c)}]::BIGINT[] AS cq"
        for i, c in enumerate(similarity.kmeans_init_q())
    )
    parts = [
        f"""v AS MATERIALIZED (
            SELECT vec_id, {_qv_sql()} AS qv FROM embeddings
        ), c_init AS MATERIALIZED (
            {init}
        )"""
    ]
    prev = "c_init"
    for r in range(rounds):
        parts.append(f"""a{r} AS MATERIALIZED (
            {_argmax_sql("v", f"CROSS JOIN {prev} c")}
        ), """ + _dkm_round_tail(r, prev))
        prev = f"c{r}"
    return "WITH " + ",\n        ".join(parts), prev


def _dkm_round_tail(r: int, prev: str) -> str:
    """The Lloyd UPDATE half of one unrolled oracle round — per-(cid,
    pos) exact sums, the per-cid rollup, and the renormalized next
    centroid state — given an already-defined assignment CTE a{r}.
    ONE builder shared by the exact-argmax chain (`_dkm_ctes`) and the
    bucket-blocked derived-k chain (`_sdk_ctes`), so the update
    arithmetic cannot drift between the two fit paths."""
    return f"""per{r} AS (
            SELECT cid, pos, CAST(sum(q) AS BIGINT) AS s,
                   CAST(count(*) AS BIGINT) AS n
            FROM (
                SELECT cid, u.pos AS pos, u.q AS q FROM (
                    SELECT cid,
                           unnest(list_transform(range(1, len(qv) + 1),
                                  i -> struct_pack(pos := i,
                                       q := qv[CAST(i AS INTEGER)]))) AS u
                    FROM a{r}
                )
            ) GROUP BY 1, 2
        ), upd{r} AS (
            SELECT cid, list(s ORDER BY pos) AS svec,
                   CAST(max(CASE WHEN pos = 1 THEN n END) AS BIGINT) AS nm,
                   sum(CAST(s AS HUGEINT) * s) AS ss
            FROM per{r} GROUP BY cid
        ), c{r} AS MATERIALIZED (
            SELECT p.cid,
                   CASE WHEN u.cid IS NULL OR u.ss = 0 THEN p.cq
                        ELSE {_renorm_sql('u.svec', 'u.ss')} END AS cq,
                   CAST(coalesce(u.nm, 0) AS BIGINT) AS n_members
            FROM {prev} p LEFT JOIN upd{r} u USING (cid)
        )"""


def _dkm_sql(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> str:
    """Oracle twin of similarity.kmeans_refit_distributed: the shared
    Lloyd chain (`_dkm_ctes`) + the per-centroid report finale."""
    chain, last = _dkm_ctes(rounds)
    return (
        chain
        + f"""
        SELECT CAST(f.cid AS INTEGER) AS centroid_id, f.n_members,
               CAST(list_sum(f.cq) AS BIGINT) AS cq_sum,
               CAST(list_sum(list_transform(f.cq, x -> x * x)) AS BIGINT) AS cq_norm2,
               {_cosine_sql('CAST(f.cq AS DOUBLE[])', 'CAST(i.cq AS DOUBLE[])')} AS shift_cos
        FROM {last} f JOIN c_init i USING (cid)
        ORDER BY centroid_id
        """
    )


def _dkm_eval_sql(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> str:
    """Oracle twin of similarity.kmeans_refit_eval: the SAME Lloyd
    chain as `_dkm_sql` (both compose `_dkm_ctes` — the builder-reuse
    rule), then one eval pass assigning every vector under
    BOTH models (argmax dot, tie -> higher cid), quantizing the
    assigned-centroid cosine to integer basis points with the exact
    operator arithmetic (score / (sqrt|qv|² · sqrt|cq|²) · 1e4, one
    rounding), and rolling up per refit cluster."""
    with_clause, last = _dkm_ctes(rounds)

    bp = (
        f"vec_id, CAST(round(score / (sqrt({_qdot_sql('qv', 'qv')}) "
        f"* sqrt({_qdot_sql('cq', 'cq')})) * 10000, 0) AS BIGINT) AS bp, cid"
    )

    def assign(cents: str) -> str:
        return f"({_argmax_sql('v', f'CROSS JOIN {cents} c', bp)})"

    return (
        with_clause
        + f""", ar AS {assign(last)}, ai AS {assign("c_init")}
        SELECT CAST(ar.cid AS INTEGER) AS centroid_id,
               CAST(count(*) AS BIGINT) AS n_members,
               CAST(sum(ai.bp) AS BIGINT) AS sum_cos_init_bp,
               CAST(sum(ar.bp) AS BIGINT) AS sum_cos_refit_bp,
               (sum(ar.bp) > sum(ai.bp)) AS refit_improves
        FROM ar JOIN ai USING (vec_id)
        GROUP BY ar.cid
        ORDER BY centroid_id
        """
    )


def _ivf_refit_sql(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> str:
    """Oracle twin of similarity.knn_ivf_refit: the refit chain
    (`_dkm_ctes`, shared with the fit/eval oracles — the builder-reuse
    rule), corpus + KMV-query assignment under the FINAL refit state
    (the family's exact integer argmax, ties -> higher cid), then
    knn_ivf's probe/re-rank shape, ranked by the tiers' `_topk_cte`."""
    chain, last = _dkm_ctes(rounds)
    return (
        chain
        + f""", ve AS MATERIALIZED (
            SELECT vec_id, {_EMB_SQL} AS emb FROM embeddings
        ), at AS MATERIALIZED (
            SELECT r.vec_id, r.cid, ve.emb FROM (
                {_argmax_sql("v", f"CROSS JOIN {last} c", "vec_id, cid")}
            ) r JOIN ve ON ve.vec_id = r.vec_id
        ), {_qids_cte(src="ve")}, q AS (
            SELECT vec_id AS q_id, emb AS q_emb, cid AS q_centroid
            FROM at WHERE {_QFILTER}
        ), refit_scored AS (
            SELECT q_id, t.vec_id, {_cosine_sql('q_emb', 't.emb')} AS cos_sim
            FROM q JOIN at t ON q_centroid = t.cid AND q_id <> t.vec_id
        ), {_topk_cte("refit", "cos_sim", 10)}
        SELECT * FROM refit_topk ORDER BY q_id, rnk
        """
    )


def _sdk_bucket_sql(arr_expr: str) -> str:
    """Conditional LSH bucket over the FIRST p of SDK_PLANE_MAX plane
    literals, p data-dependent via kk.pw (= 2^p): bit i contributes
    iff 2^i < pw — byte-identical to the Spark side's plain
    ``_bucket_expr`` over planes[:p], because hyperplanes() draws
    planes sequentially from one seeded RNG (prefix-stable, pinned by
    a test)."""
    planes = similarity.hyperplanes(similarity.SDK_PLANE_MAX)
    bits = "\n                 + ".join(
        f"CASE WHEN {1 << i} < pw AND list_dot_product({arr_expr}, "
        f"{_plane_literal(p)}) > 0 THEN {1 << i} ELSE 0 END"
        for i, p in enumerate(planes)
    )
    return f"CAST({bits} AS BIGINT)"


def _sdk_assign_ctes(r_tag: str, prev: str, src: str = "v") -> str:
    """One bucket-blocked assignment as oracle CTEs (no leading/
    trailing comma): cb{r_tag} replicates {prev}'s centroids into
    their Hamming<=1 probe buckets (the SMALL side carries the
    explode), w{r_tag} argmaxes each vector over the centroids its
    own bucket meets (exact double dots on integers, ties -> higher
    cid), fb{r_tag} is the exact full-argmax fallback for vectors
    whose bucket met no centroid, a{r_tag} the union — the exact twin
    of similarity._sdk_blocked_assign. ``src`` names the quantized
    corpus CTE being assigned (default "v", the fit corpus; the
    ingest-audit oracle passes its own ingest CTE)."""
    orphans = f"""(
                    SELECT vec_id, qv FROM {src}
                    WHERE NOT EXISTS (SELECT 1 FROM w{r_tag} w WHERE w.vec_id = {src}.vec_id)
                ) u"""
    return f"""cb{r_tag} AS MATERIALIZED (
            SELECT cid, cq, xor(cbkt, m) AS bucket
            FROM (
                SELECT cid, cq, {_sdk_bucket_sql('CAST(cq AS DOUBLE[])')} AS cbkt
                FROM {prev} CROSS JOIN kk
            ) c CROSS JOIN (
                SELECT unnest(list_filter({_SDK_MASKS}, m -> m < pw)) AS m FROM kk
            ) msk
        ), w{r_tag} AS MATERIALIZED (
            {_argmax_sql(src, f"JOIN cb{r_tag} c ON {src}.bucket = c.bucket", v=src)}
        ), fb{r_tag} AS (
            {_argmax_sql(orphans, f"CROSS JOIN {prev} c", v="u")}
        ), a{r_tag} AS MATERIALIZED (
            SELECT vec_id, qv, cid FROM w{r_tag}
            UNION ALL SELECT vec_id, qv, cid FROM fb{r_tag}
        )"""


_SDK_MASKS = (
    "[" + ", ".join(str(m) for m in [0] + [1 << i for i in range(similarity.SDK_PLANE_MAX)]) + "]"
)


def _sdk_kk_select() -> str:
    """The derived-k model-knob derivation as one SELECT over a CTE
    named v0: k = ivf_k_for(count(*)) (clamped ceil) and pw = 2^p with
    p = sdk_planes_for(k) — both as integer CASE chains, no float
    log2. Exposed separately so the boundary-sweep test can evaluate
    the SAME string DuckDB runs against the Python rules value-by-
    value across every clamp edge (tests/test_graph.py)."""
    target = similarity.IVF_TARGET_CLUSTER
    bt = similarity.SDK_BUCKET_TARGET
    pmax = similarity.SDK_PLANE_MAX
    pw_cases = "\n                        ".join(
        f"WHEN k <= {bt * (1 << p)} THEN {1 << p}"
        for p in range(1, pmax)
    )
    return f"""SELECT k, CASE {pw_cases}
                        ELSE {1 << pmax} END AS pw
            FROM (
                SELECT greatest(4, least({1 << 17}, (count(*) + {target - 1}) // {target})) AS k
                FROM v0
            )"""


def _ndd_kk_select() -> str:
    """The derived-plane near-dup knob: pw = 2^p with p =
    sdk_planes_for(count(*), NEARDUP_BUCKET_TARGET) — the plane-count
    CASE chain applied to N directly. Exposed for the boundary-sweep
    test like `_sdk_kk_select`."""
    bt = similarity.NEARDUP_BUCKET_TARGET
    pmax = similarity.SDK_PLANE_MAX
    pw_cases = "\n                        ".join(
        f"WHEN n <= {bt * (1 << p)} THEN {1 << p}" for p in range(1, pmax)
    )
    return f"""SELECT CASE {pw_cases}
                        ELSE {1 << pmax} END AS pw
            FROM (SELECT count(*) AS n FROM v0)"""


def _sdk_fit_parts(
    rounds: int = similarity.KMEANS_DIST_ROUNDS, corpus_where: str = ""
) -> tuple[list[str], str]:
    """The derived-k FIT as oracle CTE parts (v0 -> kk -> v -> c_init
    -> bucket-blocked Lloyd rounds), returning (parts, final_centroid
    _cte_name). Shared by `_sdk_sql` (fit over the full corpus, the
    default empty ``corpus_where``) and `_sdk_ingest_sql` (fit over the
    standing split). k derives from count(v0) by the
    ivf_k_for rule, plane count from k by the sdk_planes_for rule
    (both integer CASE chains — no float log2 whose rounding could
    diverge); the init is data-seeded (k h32-smallest vec_ids,
    renormalized with the round-update arithmetic)."""
    parts = [
        f"""v0 AS MATERIALIZED (
            SELECT vec_id, {_qv_sql()} AS qv FROM embeddings{corpus_where}
        ), kk AS MATERIALIZED (
            {_sdk_kk_select()}
        ), v AS MATERIALIZED (
            SELECT vec_id, qv, {_sdk_bucket_sql('CAST(qv AS DOUBLE[])')} AS bucket
            FROM v0 CROSS JOIN kk
        ), c_init AS MATERIALIZED (
            SELECT CAST(rn - 1 AS INTEGER) AS cid, {_renorm_sql('qv', 'ss')} AS cq
            FROM (
                SELECT qv, ss,
                       row_number() OVER (ORDER BY {h32_sql('CAST(vec_id AS VARCHAR)')}, vec_id) AS rn
                FROM (SELECT vec_id, qv, {_QNORM2_SQL} AS ss FROM v0) s0
                WHERE ss > 0
            ) s WHERE rn <= (SELECT k FROM kk)
        )"""
    ]
    prev = "c_init"
    for r in range(rounds):
        parts.append(
            _sdk_assign_ctes(str(r), prev) + ", " + _dkm_round_tail(r, prev)
        )
        prev = f"c{r}"
    return parts, prev


def _sdk_sql(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> str:
    """Oracle twin of similarity.semdedup_derived_k: the shared fit
    chain (`_sdk_fit_parts`), blocked final-model assignment, and the
    semdedup pair audit with the tau threshold as an integer
    cross-multiply (SEMDEDUP_TAU_FRAC — exact on both engines). Every
    knob f-string-derived from the similarity.py constants."""
    parts, prev = _sdk_fit_parts(rounds)
    parts.append(
        _sdk_assign_ctes("fin", prev)
        + f""", af AS MATERIALIZED (
            SELECT vec_id, qv, cid, {_QNORM2_SQL} AS nrm2 FROM afin
        ), pr AS (
            SELECT a.vec_id, {_qpair_sql('a', 'b')}
            FROM af a JOIN af b ON a.cid = b.cid AND b.vec_id < a.vec_id
        ), dropped AS (
            SELECT DISTINCT vec_id FROM pr
            WHERE {_within_tau_sql(similarity.SEMDEDUP_TAU_FRAC)}
        )
        {_drop_report_sql("af", "cid")}
        """
    )
    return "WITH " + ",\n        ".join(parts)


def _sdk_ingest_sql(rounds: int = similarity.KMEANS_DIST_ROUNDS) -> str:
    """Oracle twin of similarity.semdedup_ingest_audit — the streaming
    ingest twin's batch core, externally hash-verifiable: the shared
    derived-k fit chain over the STANDING split (vec_id % 10 < 8, the
    ingest convention), standing assignment, the ingest split
    quantized/bucketed through the SAME kk-derived plane count and
    blocked-assigned against the standing model (`_sdk_assign_ctes`
    with src='vi'), then the admission rule: an ingested vector drops
    iff ANY standing member of its cluster is within tau (integer
    cross-multiply, zero-norm guard). Per-cluster ingest audit."""
    parts, prev = _sdk_fit_parts(
        rounds, corpus_where=" WHERE vec_id % 10 < 8"
    )
    parts.append(
        _sdk_assign_ctes("fin", prev)
        + f""", standing AS MATERIALIZED (
            SELECT vec_id, qv, cid, {_QNORM2_SQL} AS nrm2 FROM afin
        ), vi AS MATERIALIZED (
            SELECT vec_id, qv, {_sdk_bucket_sql('CAST(qv AS DOUBLE[])')} AS bucket
            FROM (
                SELECT vec_id, {_qv_sql()} AS qv
                FROM embeddings WHERE vec_id % 10 >= 8
            ) i0 CROSS JOIN kk
        )"""
    )
    parts.append(
        _sdk_assign_ctes("ing", prev, src="vi")
        + f""", ing AS MATERIALIZED (
            SELECT vec_id, qv, cid, {_QNORM2_SQL} AS nrm2 FROM aing
        ), pri AS (
            SELECT a.vec_id, {_qpair_sql('a', 'b')}
            FROM ing a JOIN standing b ON a.cid = b.cid
        ), dropped AS (
            SELECT DISTINCT vec_id FROM pri
            WHERE {_within_tau_sql(similarity.SEMDEDUP_TAU_FRAC)}
        )
        {_drop_report_sql("ing", "cid", n="n_ingested", rest="n_admitted")}
        """
    )
    return "WITH " + ",\n        ".join(parts)


def _ndd_ctes() -> str:
    """The derived-plane near-dup chain as oracle CTEs (no leading
    WITH): v0 (quantize) -> kk (plane-count CASE chain) -> v (bucket +
    norm) -> reps (h32-capped per-bucket posting list) -> hits
    (thresholded scored pairs). Shared by `_ndd_sql` (the query) and
    `_ndd_eval_sql` (its recall harness) — the eval-reuse rule: an
    evaluator never hand-copies the index formula it evaluates."""
    rep_cap = similarity.NEARDUP_REP_CAP
    return f"""v0 AS MATERIALIZED (
            SELECT vec_id, {_qv_sql()} AS qv FROM embeddings
        ), kk AS MATERIALIZED (
            {_ndd_kk_select()}
        ), v AS MATERIALIZED (
            SELECT vec_id, qv,
                   {_sdk_bucket_sql('CAST(qv AS DOUBLE[])')} AS bucket,
                   {_QNORM2_SQL} AS nrm2
            FROM v0 CROSS JOIN kk
        ), reps AS MATERIALIZED (
            SELECT vec_id, qv, bucket, nrm2 FROM (
                SELECT vec_id, qv, bucket, nrm2,
                       row_number() OVER (PARTITION BY bucket
                           ORDER BY {h32_sql('CAST(vec_id AS VARCHAR)')}, vec_id) AS rep_rn
                FROM v) r WHERE rep_rn <= {rep_cap}
        ), hits AS (
            SELECT vec_a, vec_b, {_QCOS_SQL}
            FROM (
                SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, {_qpair_sql('a', 'b')}
                FROM v a JOIN reps b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
            ) p
            WHERE {_within_tau_sql(similarity.NEARDUP_TAU_FRAC)}
        )"""


def _ndd_sql() -> str:
    """Oracle twin of similarity.embedding_near_dup_derived: plane
    count derived from count(v0) by the sdk_planes_for rule (integer
    CASE chain — no float log2), the SAME conditional bucket over the
    prefix-stable plane literals (`_sdk_bucket_sql` reads pw from kk),
    h32-capped per-bucket reps (the posting-cap convention — candidate
    volume <= N·rep_cap at any skew), the bucket-blocked vector x rep
    join, integer cross-multiplied tau with the zero-norm guard, one
    exact double division for cos_sim, and the per-vec_a top-cap
    window ranked (round(cos,9) DESC, vec_b). Every knob
    f-string-derived from the similarity.py constants."""
    cap = similarity.NEARDUP_PAIR_CAP
    return f"""
        WITH {_ndd_ctes()}
        SELECT vec_a, vec_b, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
            SELECT vec_a, vec_b, cos_sim,
                   row_number() OVER (PARTITION BY vec_a
                       ORDER BY round(cos_sim, 9) DESC, vec_b) AS rnk
            FROM hits) r
        WHERE rnk <= {cap}
        ORDER BY vec_a, rnk
        """


def _ndd_eval_sql() -> str:
    """Oracle twin of similarity.embedding_near_dup_eval — the capped
    contract's recall harness: `found` re-derives the SHIPPED query's
    partner lists from the SAME `_ndd_ctes` chain (eval-reuse rule),
    the exact side scores the KMV query sample against the FULL corpus
    with the same integer arithmetic (no buckets, no rep cap) and
    keeps the exact top-cap partners per query, and each query's hit
    count is |found ∩ exact|. The sample is `_qids_cte` over v0 — the
    knn family's sample definition, so it cannot drift."""
    cap = similarity.NEARDUP_PAIR_CAP
    return f"""
        WITH {_ndd_ctes()}, found AS MATERIALIZED (
            SELECT vec_a, vec_b FROM (
                SELECT vec_a, vec_b,
                       row_number() OVER (PARTITION BY vec_a
                           ORDER BY round(cos_sim, 9) DESC, vec_b) AS rnk
                FROM hits) r
            WHERE rnk <= {cap}
        ), {_qids_cte(src="v0")}, sq AS MATERIALIZED (
            -- the 32-row sample side, materialized BEFORE the <> join:
            -- without it DuckDB plans the inequality join as a full
            -- N x N nested loop and filters after (measured: sf1.0
            -- replay DNF >9 min; 32 x N after = seconds)
            SELECT vec_id, qv, nrm2 FROM v
            WHERE vec_id IN (SELECT q_id FROM qids)
        ), ex AS (
            SELECT q_id, p_id, {_QCOS_SQL} FROM (
                SELECT s.vec_id AS q_id, c.vec_id AS p_id, {_qpair_sql('s', 'c')}
                FROM sq s JOIN v c ON s.vec_id <> c.vec_id
            ) p
            WHERE {_within_tau_sql(similarity.NEARDUP_TAU_FRAC)}
        ), ex_top AS (
            SELECT q_id, p_id FROM (
                SELECT q_id, p_id,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY round(cos_sim, 9) DESC, p_id) AS rnk
                FROM ex) r WHERE rnk <= {cap}
        ), hitrows AS (
            SELECT e.q_id, count(*) AS n_true,
                   sum(CASE WHEN f.vec_b IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
            FROM ex_top e LEFT JOIN found f
              ON f.vec_a = e.q_id AND f.vec_b = e.p_id
            GROUP BY e.q_id
        )
        SELECT q.q_id,
               CAST(coalesce(h.n_true, 0) AS BIGINT) AS n_true,
               CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
               CAST(coalesce(h.n_hit, 0) AS DOUBLE)
                   / NULLIF(coalesce(h.n_true, 0), 0) AS recall
        FROM qids q LEFT JOIN hitrows h ON h.q_id = q.q_id
        ORDER BY q.q_id
        """


def _nnd_ctes(
    k: int = similarity.NND_K,
    rounds: int = similarity.NND_ROUNDS,
    cap: int = similarity.NND_SEED_CAP,
    corpus_where: str = "",
) -> tuple[str, str]:
    """NN-Descent CTE chain (WITH included) — oracle twin of
    similarity.nn_descent_knn_graph, every knob f-string-derived from
    the SAME similarity.py constants the operator defaults to (the
    entity_match ADVICE rule). Returns (with_clause, final_edges_cte).
    Chain: v (emb + LSH bucket) -> per-bucket h32-capped reps ->
    Hamming-<=1 multiprobe seed pairs -> seeded top-k e_s -> per round:
    forward + cos-capped reverse neighborhoods b{r}, center self-join +
    previous edges, DISTINCT, exact re-score, top-k e{r}.
    ``corpus_where`` filters the corpus CTE (the graph-ingest oracle
    builds the STANDING graph over vec_id % 10 < 8); the default empty
    filter keeps the three r08 graph-tier oracle strings byte-stable."""
    emb = _EMB_SQL
    probe_list = ", ".join(
        ["bucket"] + [f"xor(bucket, {1 << p})" for p in range(len(_PLANES))]
    )
    parts = [
        f"""v AS MATERIALIZED (
            SELECT vec_id, {emb} AS emb, {_bucket_sql(emb, _PLANES)} AS bucket
            FROM embeddings{corpus_where}
        ), reps AS (
            SELECT bucket, vec_id AS dst FROM (
                SELECT bucket, vec_id,
                       row_number() OVER (PARTITION BY bucket
                           ORDER BY {h32_sql('CAST(vec_id AS VARCHAR)')}, vec_id) AS rn
                FROM v) r WHERE rn <= {cap}
        ), probes AS (
            SELECT vec_id AS src, unnest([{probe_list}]) AS pbucket FROM v
        ), pairs_s AS (
            SELECT p.src, r.dst
            FROM probes p JOIN reps r ON r.bucket = p.pbucket AND p.src <> r.dst
        ), scored_s AS (
            SELECT p.src, p.dst, {_cosine_sql('sa.emb', 'sb.emb')} AS cos_sim
            FROM pairs_s p JOIN v sa ON sa.vec_id = p.src
                           JOIN v sb ON sb.vec_id = p.dst
        ), e_s AS MATERIALIZED (
            SELECT src, dst, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT src, dst, cos_sim,
                       row_number() OVER (PARTITION BY src
                           ORDER BY cos_sim DESC, dst) AS rnk
                FROM scored_s) r WHERE rnk <= {k}
        )"""
    ]
    prev = "e_s"
    for r in range(rounds):
        parts.append(f"""b{r} AS MATERIALIZED (
            SELECT src AS center, dst AS member FROM {prev}
            UNION ALL
            SELECT center, member FROM (
                SELECT dst AS center, src AS member,
                       row_number() OVER (PARTITION BY dst
                           ORDER BY cos_sim DESC, src) AS rn
                FROM {prev}) rv WHERE rn <= {k}
        ), cand{r} AS (
            SELECT DISTINCT src, dst FROM (
                SELECT x.member AS src, y.member AS dst
                FROM b{r} x JOIN b{r} y
                  ON x.center = y.center AND x.member <> y.member
                UNION ALL
                SELECT src, dst FROM {prev})
        ), scored{r} AS (
            SELECT c.src, c.dst, {_cosine_sql('sa.emb', 'sb.emb')} AS cos_sim
            FROM cand{r} c JOIN v sa ON sa.vec_id = c.src
                           JOIN v sb ON sb.vec_id = c.dst
        ), e{r} AS MATERIALIZED (
            SELECT src, dst, cos_sim, CAST(rnk AS INTEGER) AS rnk FROM (
                SELECT src, dst, cos_sim,
                       row_number() OVER (PARTITION BY src
                           ORDER BY cos_sim DESC, dst) AS rnk
                FROM scored{r}) r WHERE rnk <= {k}
        )""")
        prev = f"e{r}"
    return "WITH " + ",\n        ".join(parts), prev


def _beam_hop_parts(qcte: str, beam: int, hops: int) -> list[str]:
    """The beam-search hop unroll — THE single oracle-side
    implementation of entry-probe → per-hop expand/union/dedup/
    re-score/top-beam, shared by the serving-path oracle
    (`_nnd_search_sql`, query CTE ``qv``) and the ingest-admission
    oracle (`_gi_sql`, query CTE ``nq``) — the Spark twin is
    similarity._beam_frontier. ``qcte`` must expose (q_id, q_emb,
    q_bucket); the surrounding chain must define ``v``, ``reps`` and
    ``g`` (gsrc, gdst). Returns CTE list elements ending at f{hops};
    callers join with ',\\n        ' and add their own finale."""
    probe_list = ", ".join(
        ["q_bucket"] + [f"xor(q_bucket, {1 << p})" for p in range(len(_PLANES))]
    )
    score = _cosine_sql(f"{qcte}.q_emb", "v.emb")
    parts = [
        f"""p0 AS (
            SELECT q.q_id, r.dst AS cand
            FROM (SELECT q_id, unnest([{probe_list}]) AS pbucket FROM {qcte}) q
            JOIN reps r ON r.bucket = q.pbucket
        )"""
    ]
    prev_pairs = "p0"
    for h in range(hops + 1):
        parts.append(f"""s{h} AS (
            SELECT p.q_id, p.cand, {score} AS cs
            FROM {prev_pairs} p JOIN {qcte} ON p.q_id = {qcte}.q_id
                                JOIN v ON v.vec_id = p.cand
        ), f{h} AS MATERIALIZED (
            SELECT q_id, cand, cs FROM (
                SELECT q_id, cand, cs,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY cs DESC, cand) AS rn
                FROM s{h}) r WHERE rn <= {beam}
        )""")
        if h < hops:
            parts.append(f"""p{h + 1} AS (
            SELECT f.q_id, g.gdst AS cand
            FROM f{h} f JOIN g ON f.cand = g.gsrc
            UNION
            SELECT q_id, cand FROM f{h}
        )""")
            prev_pairs = f"p{h + 1}"
    return parts


def _nnd_search_sql(
    k: int = 10,
    beam: int = similarity.NND_BEAM,
    hops: int = similarity.NND_HOPS,
) -> str:
    """Oracle twin of similarity.knn_graph_search: the NN-Descent chain
    (reused verbatim — evaluator/consumer shares the builder), then the
    KMV query set with probe buckets, and the shared beam hop unroll
    (`_beam_hop_parts`). Every knob f-string-derived from the
    similarity.py constants."""
    chain, last = _nnd_ctes()
    hop_parts = _beam_hop_parts("qv", beam, hops)
    parts = [
        f"""{chain}, {_qids_cte()}, qv AS MATERIALIZED (
            SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket
            FROM v WHERE {_QFILTER}
        ), g AS MATERIALIZED (
            SELECT src AS gsrc, dst AS gdst FROM {last}
        ), """ + hop_parts[0]
    ] + hop_parts[1:]
    return (
        ",\n        ".join(parts)
        + f"""
        SELECT q_id, cand AS vec_id, cs AS cos_sim, CAST(rnk AS INTEGER) AS rnk
        FROM (
            SELECT q_id, cand, cs,
                   row_number() OVER (PARTITION BY q_id
                       ORDER BY cs DESC, cand) AS rnk
            FROM f{hops} WHERE cand <> q_id) r
        WHERE rnk <= {k} ORDER BY q_id, rnk
        """
    )


def _pq_subslice(emb: str, sub: int) -> str:
    lo, hi = sub * similarity.PQ_SUBDIM + 1, (sub + 1) * similarity.PQ_SUBDIM
    return f"{emb}[{lo}:{hi}]"


def _pq_codes_ctes(with_v: bool = True) -> str:
    """CTEs assigning every vector its PQ code per subspace: argmax of
    (2*dot(sub, c) - |c|^2) with tie -> LOWER code id, mirroring
    similarity._pq_code_expr (the |c|^2 literals are the same Python
    floats embedded on both sides). ``with_v=False`` emits only the
    pscores/pcode CTEs for embedding into a query that already defines
    the standard ``v`` (vec_id, emb) CTE (the kNN tiers' ``_PQ_CODES_CTE``)."""
    from mapreduce_rs_spark.operators.pq_model import FITTED_PQ

    parts = (
        [
            f"""v AS (
            SELECT vec_id, {_EMB_SQL} AS emb FROM embeddings
        )"""
        ]
        if with_v
        else []
    )
    for sub, book in enumerate(FITTED_PQ):
        rows = "\n            UNION ALL\n            ".join(
            f"SELECT vec_id, {i} AS code, "
            f"2 * list_dot_product({_pq_subslice('emb', sub)}, {_plane_literal(c)}) "
            f"- CAST({sum(v * v for v in c)!r} AS DOUBLE) AS score FROM v"
            for i, c in enumerate(book)
        )
        parts.append(f"""pscores{sub} AS (
            {rows}
        ), pcode{sub} AS (
            SELECT vec_id, code AS code_{sub} FROM (
                SELECT vec_id, code,
                       row_number() OVER (PARTITION BY vec_id
                                          ORDER BY score DESC, code ASC) AS rn
                FROM pscores{sub}
            ) r WHERE rn = 1
        )""")
    return ("WITH " if with_v else "") + ",\n        ".join(parts)


def _pq_histogram_sql() -> str:
    legs = "\n        UNION ALL\n        ".join(
        f"SELECT {sub} AS subspace, code_{sub} AS code, "
        f"CAST(count(*) AS INTEGER) AS n_vectors FROM pcode{sub} GROUP BY code_{sub}"
        for sub in range(similarity.PQ_M)
    )
    return f"""
        {_pq_codes_ctes()}
        {legs}
        """


def _pq_adc_terms(q_emb: str, codes_alias: str) -> str:
    """The ADC score as a fixed 4-term left-associated sum; each term
    looks the candidate's code up in the query's per-code dot table,
    expressed as a 16-way CASE on the code (identical dot literals,
    identical association order to the Spark side)."""
    from mapreduce_rs_spark.operators.pq_model import FITTED_PQ

    return " + ".join(
        f"(CASE {codes_alias}.code_{sub} "
        + " ".join(
            f"WHEN {i} THEN list_dot_product({_pq_subslice(q_emb, sub)}, {_plane_literal(c)})"
            for i, c in enumerate(book)
        )
        + " END)"
        for sub, book in enumerate(FITTED_PQ)
    )


def _pq_recon_sql() -> str:
    """Oracle twin of similarity.pq_reconstruction_error: the code
    assignment reuses _pq_codes_ctes verbatim (shared-builder rule);
    both the vector coordinate and the codebook coordinate go through
    the SAME round(x·1e6)→BIGINT quantization as label_centroid_drift,
    so the squared error is exact integer arithmetic; mse mirrors the
    Spark division chain token for token."""
    from mapreduce_rs_spark.operators.pq_model import FITTED_PQ

    subdim = similarity.PQ_SUBDIM
    scale = similarity.DRIFT_SCALE
    book_rows = ",\n            ".join(
        f"({sub}, {code}, {d + 1}, {int(round(v * scale))})"
        for sub, book in enumerate(FITTED_PQ)
        for code, c in enumerate(book)
        for d, v in enumerate(c)
    )
    vcode_legs = "\n            UNION ALL\n            ".join(
        f"SELECT vec_id, {sub} AS subspace, code_{sub} AS code FROM codes"
        for sub in range(similarity.PQ_M)
    )
    joins = " ".join(
        f"JOIN pcode{sub} USING (vec_id)" for sub in range(similarity.PQ_M)
    )
    return f"""
        {_pq_codes_ctes()}, codes AS (
            SELECT vec_id, code_0, code_1, code_2, code_3
            FROM v {joins}
        ), book(subspace, code, d, qc) AS (VALUES
            {book_rows}
        ), vcode AS (
            {vcode_legs}
        ), qx AS (
            SELECT vec_id,
                   CAST((i - 1) // {subdim} AS INTEGER) AS subspace,
                   CAST(((i - 1) % {subdim}) + 1 AS INTEGER) AS d,
                   {_q_sql('emb[CAST(i AS INTEGER)]')} AS q
            FROM v CROSS JOIN range(1, {similarity.EMBED_DIM + 1}) t(i)
        ), errs AS (
            SELECT x.vec_id, x.subspace, vc.code,
                   CAST(sum((x.q - b.qc) * (x.q - b.qc)) AS BIGINT) AS err
            FROM qx x
            JOIN vcode vc ON vc.vec_id = x.vec_id AND vc.subspace = x.subspace
            JOIN book b ON b.subspace = x.subspace AND b.code = vc.code
                       AND b.d = x.d
            GROUP BY x.vec_id, x.subspace, vc.code
        )
        SELECT CAST(subspace AS INTEGER) AS subspace,
               CAST(code AS INTEGER) AS code,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(sum(err) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                   / {float(subdim)!r} / {float(scale) * float(scale)!r} AS mse
        FROM errs GROUP BY subspace, code
        """


def _pca_z_sql_duck(emb: str) -> str:
    """DuckDB fragment: the PCA-projected R-vector — the oracle twin of
    similarity._pca_z_sql, built from the SAME shipped literals
    (components + precomputed mean-dot offsets)."""
    mean, comps = similarity.pca_model()
    offs = similarity._pca_offsets(mean, comps)
    terms = ", ".join(
        f"(list_dot_product({emb}, {_plane_literal(w)}) - CAST({float(c)!r} AS DOUBLE))"
        for w, c in zip(comps, offs)
    )
    return f"[{terms}]"


def _topk_cte(tier: str, score: str, k: int) -> str:
    """``<tier>_topk(q_id, vec_id, <score>, rnk)``: the ``k`` best rows
    of ``<tier>_scored`` per query by (score DESC, vec_id) — the one
    ranking every kNN-tier oracle and ANN evaluator reads."""
    return f"""{tier}_topk AS (
            SELECT q_id, vec_id, {score}, rnk FROM (
                SELECT q_id, vec_id, {score},
                       CAST(row_number() OVER (PARTITION BY q_id
                                               ORDER BY {score} DESC, vec_id) AS INTEGER) AS rnk
                FROM {tier}_scored
            ) r WHERE rnk <= {k}
        )"""


# CTEs shared by more than one tier (the composer emits each once).
_Q_CTE = f"q AS (SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE {_QFILTER})"
_IQ_CTE = f"""iq AS (
            SELECT vec_id AS q_id, emb AS q_emb, centroid_id AS q_centroid
            FROM assigned WHERE {_QFILTER}
        )"""
_PQ_CODES_CTE = f"""{_pq_codes_ctes(with_v=False)}, pq_codes AS (
            SELECT vec_id, code_0, code_1, code_2, code_3
            FROM v {" ".join(f"JOIN pcode{s} USING (vec_id)" for s in range(similarity.PQ_M))}
        )"""

# tier -> (score column, CTE chain ending in <tier>_scored). Every chain
# reads the base of _tiers_ctes: v / cscores / assigned and qids. Tier
# names are the ann_* method labels; "exact" is brute force.
_TIERS = {
    "exact": ("cos_sim", (_Q_CTE, f"""exact_scored AS (
            SELECT q_id, vec_id, {_cosine_sql('q_emb', 'emb')} AS cos_sim
            FROM q JOIN v ON q_id <> vec_id
        )""")),
    "lsh": ("cos_sim", (f"""b AS (
            SELECT vec_id, emb, {_bucket_sql('emb', _PLANES)} AS bucket FROM v
        ), lq AS (
            SELECT vec_id AS q_id, emb AS q_emb, bucket AS q_bucket
            FROM b WHERE {_QFILTER}
        ), lsh_scored AS (
            SELECT q_id, b.vec_id, {_cosine_sql('q_emb', 'emb')} AS cos_sim
            FROM lq JOIN b ON q_bucket = bucket AND q_id <> b.vec_id
        )""",)),
    "ivf": ("cos_sim", (_IQ_CTE, f"""ivf_scored AS (
            SELECT q_id, a.vec_id, {_cosine_sql('q_emb', 'a.emb')} AS cos_sim
            FROM iq JOIN assigned a ON q_centroid = a.centroid_id AND q_id <> a.vec_id
        )""")),
    "ivf_mp2": ("cos_sim", (f"""qprobe AS (
            SELECT vec_id AS q_id, emb AS q_emb, cid AS q_centroid FROM (
                SELECT vec_id, emb, cid,
                       row_number() OVER (PARTITION BY vec_id ORDER BY score DESC, cid DESC) AS rn
                FROM cscores WHERE {_QFILTER}
            ) r WHERE rn <= 2
        ), ivf_mp2_scored AS (
            SELECT q_id, a.vec_id, {_cosine_sql('q_emb', 'a.emb')} AS cos_sim
            FROM qprobe JOIN assigned a ON q_centroid = a.centroid_id AND q_id <> a.vec_id
        )""",)),
    "pq": ("adc_sim", (_Q_CTE, _PQ_CODES_CTE, f"""pq_scored AS (
            SELECT q.q_id, pc.vec_id, {_pq_adc_terms("q.q_emb", "pc")} AS adc_sim
            FROM q JOIN pq_codes pc ON q.q_id <> pc.vec_id
        )""")),
    "ivfpq": ("adc_sim", (_IQ_CTE, _PQ_CODES_CTE, f"""ivfpq_scored AS (
            SELECT iq.q_id, pc.vec_id, {_pq_adc_terms("iq.q_emb", "pc")} AS adc_sim
            FROM iq JOIN assigned a ON iq.q_centroid = a.centroid_id AND iq.q_id <> a.vec_id
            JOIN pq_codes pc ON pc.vec_id = a.vec_id
        )""")),
    "pca": ("pca_sim", (f"""pz AS (
            SELECT vec_id, {_pca_z_sql_duck('emb')} AS z FROM v
        ), pca_q AS (
            SELECT vec_id AS q_id, z AS q_z FROM pz WHERE {_QFILTER}
        ), pca_scored AS (
            SELECT q_id, pz.vec_id, {_cosine_sql('q_z', 'z')} AS pca_sim
            FROM pca_q JOIN pz ON q_id <> pz.vec_id
        )""",)),
}


def _tiers_ctes(*tiers: str, k: int) -> str:
    """WITH clause defining ``<tier>_topk`` for each named tier over one
    shared base. A CTE two tiers share (``q``, ``iq``, ivfpq's PQ codes)
    is emitted once — DuckDB rejects a repeated CTE name."""
    ctes = [_qids_cte()]
    for tier in tiers:
        score, chain = _TIERS[tier]
        ctes += [*chain, _topk_cte(tier, score, k)]
    return f"{_ivf_assigned_cte()}, " + ", ".join(dict.fromkeys(ctes))


def _knn_sql(tier: str, k: int = 10) -> str:
    """Oracle twin of one knn_* tier: its top-k rows, as ranked."""
    return f"""{_tiers_ctes(tier, k=k)}
        SELECT * FROM {tier}_topk ORDER BY q_id, rnk
        """


def _approx_grid_ctes(methods: tuple[str, ...], cols: str) -> str:
    """``approx``: each method's top-k ``cols`` labelled by method;
    ``grid``: every (method, exact query) pair, so an evaluator's
    zero-hit queries survive the join."""
    approx = "\n            UNION ALL ".join(
        f"SELECT '{m}' AS method, {cols} FROM {m}_topk" for m in methods
    )
    return f"""approx AS (
            {approx}
        ), grid AS (
            SELECT method, q_id
            FROM (SELECT DISTINCT q_id FROM exact_topk) qs
            CROSS JOIN (SELECT unnest({list(methods)!r}) AS method) m
        )"""


def _ann_recall_sql(k: int = 10) -> str:
    """Oracle twin of similarity.ann_recall: each approximate tier's
    top-k is the ``<tier>_topk`` CTE its own knn_* oracle reads
    (`_tiers_ctes`), intersected with the exact tier's, so an index
    change can't silently desynchronize the evaluation from the thing
    it evaluates."""
    methods = ("lsh", "ivf", "ivf_mp2", "pq", "ivfpq", "pca")
    return f"""{_tiers_ctes("exact", *methods, k=k)},
        {_approx_grid_ctes(methods, "q_id, vec_id")}, hits AS (
            SELECT method, a.q_id, count(*) AS n_hits
            FROM approx a JOIN exact_topk e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
            GROUP BY 1, 2
        ), filled AS (
            SELECT g.method, g.q_id, COALESCE(h.n_hits, 0) AS n_hits
            FROM grid g LEFT JOIN hits h ON g.method = h.method AND g.q_id = h.q_id
        )
        SELECT method, CAST(count(*) AS INTEGER) AS n_queries,
               CAST(sum(n_hits) AS INTEGER) AS n_hits,
               CAST(sum(n_hits) AS DOUBLE) / ({k} * count(*)) AS recall_at_k
        FROM filled GROUP BY method ORDER BY method
        """


def _ann_rrf_sql(k: int = 10) -> str:
    """Oracle twin of similarity.ann_rank_fusion: the lsh/ivf ranked
    top-k legs are the ``<tier>_topk`` CTEs of the knn_lsh/knn_ivf
    oracles (`_tiers_ctes`), fused with integer micro-unit reciprocal
    ranks — 1e6 // (60+rnk), never a float 1/x."""
    return f"""{_tiers_ctes("lsh", "ivf", k=k)}, fused AS (
            SELECT q_id, vec_id,
                   CAST(count(*) AS INTEGER) AS n_tiers,
                   CAST(sum({similarity.RRF_SCALE} // ({similarity.RRF_K} + rnk))
                        AS BIGINT) AS rrf_micro
            FROM (
                SELECT q_id, vec_id, rnk FROM lsh_topk
                UNION ALL SELECT q_id, vec_id, rnk FROM ivf_topk
            ) u GROUP BY 1, 2
        )
        SELECT q_id, vec_id, n_tiers, rrf_micro, fused_rank FROM (
            SELECT q_id, vec_id, n_tiers, rrf_micro,
                   CAST(row_number() OVER (PARTITION BY q_id
                                           ORDER BY rrf_micro DESC, vec_id)
                        AS INTEGER) AS fused_rank
            FROM fused
        ) f WHERE fused_rank <= {k}
        """


def _ann_ranking_sql(k: int = 10) -> str:
    """Oracle twin of similarity.ann_ranking_metrics — the lsh/ivf/pca
    top-k legs are the ``<tier>_topk`` CTEs of their knn_* oracles
    (`_tiers_ctes`); the integer discount tables are the operator's own
    (similarity._ranking_tables), so no log2 ever evaluates in either
    engine."""
    w_lit, prefix_lit, mrr_lit = (
        "[" + ", ".join(map(str, t)) + "]" for t in similarity._ranking_tables(k)
    )
    methods = ("lsh", "ivf", "pca")
    return f"""{_tiers_ctes("exact", *methods, k=k)},
        {_approx_grid_ctes(methods, "q_id, vec_id, rnk")}, hits AS (
            SELECT method, a.q_id, a.rnk
            FROM approx a JOIN exact_topk e ON a.q_id = e.q_id AND a.vec_id = e.vec_id
        ), per_q AS (
            SELECT method, q_id,
                   CAST(sum({w_lit}[rnk]) AS BIGINT) AS dcg_u,
                   CAST({mrr_lit}[min(rnk)] AS BIGINT) AS mrr_u
            FROM hits GROUP BY 1, 2
        ), idcg AS (
            SELECT q_id,
                   CAST({prefix_lit}[least(count(*), {k})] AS BIGINT) AS idcg_u
            FROM exact_topk GROUP BY q_id
        ), filled AS (
            SELECT g.method, g.q_id,
                   COALESCE(p.dcg_u, 0) AS dcg_u,
                   COALESCE(p.mrr_u, 0) AS mrr_u,
                   i.idcg_u
            FROM grid g
            LEFT JOIN per_q p ON p.method = g.method AND p.q_id = g.q_id
            JOIN idcg i ON i.q_id = g.q_id
        )
        SELECT method, CAST(count(*) AS INTEGER) AS n_queries,
               CAST(sum(dcg_u) AS BIGINT) AS sum_dcg_u,
               CAST(sum(idcg_u) AS BIGINT) AS sum_idcg_u,
               CAST(sum(mrr_u) AS BIGINT) AS sum_mrr_u,
               CAST(sum(dcg_u) AS DOUBLE) / CAST(sum(idcg_u) AS DOUBLE) AS ndcg_at_k,
               CAST(sum(mrr_u) AS DOUBLE) / (1000000.0 * count(*)) AS mrr
        FROM filled GROUP BY method ORDER BY method
        """


def _pagerank_trade_sql(iterations: int = 5, damping_pct: int = 85) -> str:
    """Oracle twin of graph.pagerank_trade_flows: the SAME fixed-point
    integer recurrence, unrolled into chained CTEs (one i{k}/r{k} pair
    per iteration). Every arithmetic step is integral — HUGEINT product,
    floor division, integer sums — so the unrolled SQL reproduces the
    Spark loop bit-for-bit regardless of engine float semantics or
    partitioning. SCALE = 10^12 (graph.PAGERANK_SCALE)."""
    scale = graph.PAGERANK_SCALE
    iters = []
    for k in range(1, iterations + 1):
        iters.append(f"""i{k} AS (
            SELECT g.dst AS node,
                   SUM((CAST(r.rank_fp AS HUGEINT) * g.weight) // g.out_w) AS inflow
            FROM g JOIN r{k - 1} r ON g.src = r.node GROUP BY 1
        ), r{k} AS (
            SELECT n.node,
                   (SELECT base_fp FROM meta)
                   + ({damping_pct} * COALESCE(i.inflow, 0)) // 100 AS rank_fp
            FROM nodes n LEFT JOIN i{k} i USING (node)
        )""")
    chain = ",\n        ".join(iters)
    return f"""
        WITH flows AS (
            SELECT c.c_nationkey AS a, s.s_nationkey AS b, count(*) AS w
            FROM lineitem l
            JOIN orders o ON l.l_orderkey = o.o_orderkey
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN supplier s ON l.l_suppkey = s.s_suppkey
            GROUP BY 1, 2
        ), edges AS (
            SELECT src, dst, SUM(w) AS weight FROM (
                SELECT a AS src, b AS dst, w FROM flows
                UNION ALL
                SELECT b AS src, a AS dst, w FROM flows
            ) GROUP BY 1, 2
        ), nodes AS (
            SELECT DISTINCT src AS node FROM edges
        ), meta AS (
            SELECT (({100 - damping_pct} * CAST({scale} AS HUGEINT))
                    // (100 * count(*))) AS base_fp,
                   (CAST({scale} AS HUGEINT) // count(*)) AS init_fp
            FROM nodes
        ), g AS (
            SELECT e.src, e.dst, e.weight, ow.out_w
            FROM edges e
            JOIN (SELECT src, SUM(weight) AS out_w FROM edges GROUP BY 1) ow
              USING (src)
        ), r0 AS (
            SELECT node, (SELECT init_fp FROM meta) AS rank_fp FROM nodes
        ),
        {chain}
        SELECT n_name,
               CAST(rank_fp AS BIGINT) AS rank_fp,
               CAST(rank_fp AS DOUBLE) / 1e12 AS rank
        FROM r{iterations} JOIN nation ON node = n_nationkey
        ORDER BY n_name
        """


# ---------------------------------------------------------------------------
# The registry
# ---------------------------------------------------------------------------

QUERIES: dict[str, QuerySpec] = {
    # ---- word-count lineage (the reference's entire app surface) ----
    "wordcount": QuerySpec(
        _docs(ta.word_count),
        WORDCOUNT_SQL,
        "flagship: reference wc semantics (src/mr/function.rs:9-20)",
    ),
    "wordcount_salted": QuerySpec(
        _docs(lambda df: salted_group_count(ta.explode_tokens(df), "word")),
        WORDCOUNT_SQL,
        "skew path: two-phase salted aggregation, oracled against the plain word-count SQL (identical result is the correctness claim)",
    ),
    "wordcount_topk": QuerySpec(
        _docs(lambda df: ta.word_count_topk(df, 20)),
        f"""
        SELECT word, count(*) AS cnt FROM (
            SELECT unnest(string_split_regex(regexp_replace(text, '{CLEAN_SQL}', '', 'g'), '{SPLIT_SQL}')) AS word
            FROM documents
        ) t WHERE word <> '' GROUP BY word ORDER BY cnt DESC, word LIMIT 20
        """,
    ),
    "rdd_wordcount": QuerySpec(
        _docs(rdd_word_count),
        WORDCOUNT_SQL,
        "the literal RDD lineage (textFile->flatMap->reduceByKey->sortByKey), oracled against the same SQL as the declarative flagship",
    ),
    "wordcount_mapreduce_udf": QuerySpec(
        _docs(word_count_mapreduce),
        WORDCOUNT_SQL,
        "the op-4/op-10 UDF surface (mapInPandas map, key-sorted streamed mapInPandas reduce), oracled against relational SQL",
    ),
    # ---- text analysis ----
    "doc_stats": QuerySpec(
        _docs(ta.doc_stats),
        f"""
        WITH {_toks_cte('documents', 'doc_id', 'lang', 'CAST(length(text) AS INTEGER) AS n_chars_actual')}
        SELECT doc_id, lang, n_chars_actual,
               CAST(len(tk) AS INTEGER) AS n_tokens,
               CAST(len(list_distinct(tk)) AS INTEGER) AS n_distinct_tokens,
               list_aggregate(list_transform(tk, t -> CAST(length(t) AS DOUBLE)), 'sum') / NULLIF(len(tk), 0) AS avg_token_len
        FROM toks
        """,
    ),
    "top_terms_per_lang": QuerySpec(
        _docs(lambda df: ta.top_terms_per_lang(df, 5)),
        f"""{WORDS_CTE}, counts AS (
            SELECT lang, word, count(*) AS cnt FROM words GROUP BY lang, word
        ), ranked AS (
            SELECT lang, word, cnt,
                   CAST(row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, word) AS INTEGER) AS rnk
            FROM counts
        )
        SELECT lang, word, cnt, rnk FROM ranked WHERE rnk <= 5 ORDER BY lang, rnk
        """,
    ),
    "bigrams": QuerySpec(
        _docs(lambda df: ta.ngrams(df, 2)),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, grams AS (
            SELECT unnest({_slide_sql('tk', range(2))}) AS ngram FROM toks
        )
        SELECT ngram, count(*) AS cnt FROM grams GROUP BY ngram
        """,
    ),
    "bigram_pmi": QuerySpec(
        _docs(lambda df: ta.skipgram_pmi(df, 1)),
        _pmi_sql(1),
        "collocation PMI in ln-difference form: exact integer counts, "
        "fixed expression tree — no product overflow, engine-portable",
    ),
    "mixture_sample": QuerySpec(
        _docs(curation.mixture_sample),
        f"""
        WITH docs AS (
            SELECT doc_id, lang, source, len({TOKENS_SQL}) AS n_tokens
            FROM documents
        ), lang_tok AS (
            SELECT lang, CAST(sum(n_tokens) AS BIGINT) AS lang_tokens
            FROM docs GROUP BY lang
        ), totals AS (
            SELECT CAST(sum(lang_tokens) AS BIGINT) AS corpus_tokens,
                   CAST(count(*) AS BIGINT) AS n_langs
            FROM lang_tok
        ), weighted AS (
            SELECT d.*, corpus_tokens, n_langs, lang_tokens,
                   CAST(corpus_tokens AS DOUBLE) / (n_langs * lang_tokens)
                   AS weight
            FROM docs d JOIN lang_tok USING (lang) CROSS JOIN totals
        ), drawn AS (
            -- integer cross-multiply thresholds (curation.mixture_sample):
            -- floor(w) = N div D, frac_bp = (N mod D)*10^4 div D
            SELECT lang, source, weight,
                   corpus_tokens // (n_langs * lang_tokens)
                   + CASE WHEN {h32_sql("(CAST(doc_id AS VARCHAR) || '|mix')")} % 10000
                               < (corpus_tokens % (n_langs * lang_tokens)) * 10000
                                 // (n_langs * lang_tokens)
                          THEN 1 ELSE 0 END AS n_copies
            FROM weighted
        )
        SELECT lang, source,
               CAST(count(*) AS BIGINT) AS n_docs,
               min(weight) AS weight,
               CAST(sum(n_copies) AS BIGINT) AS n_copies,
               CAST(sum(n_copies) AS DOUBLE) / count(*) AS realized_epochs
        FROM drawn
        GROUP BY lang, source
        """,
        "materialized uniform-over-language mixture: per-doc copy counts "
        "from floor(weight) + deterministic hash draw on the fraction — "
        "partition/run/engine-invariant sampling with repeats",
    ),
    "term_drift": QuerySpec(
        _docs(lambda df: ta.term_drift(df, 5)),
        f"""{WORDS_CTE.replace("SELECT doc_id, lang", "SELECT doc_id, lang, doc_id % 2 AS half")}, aligned AS (
            SELECT lang, word,
                   CAST(sum(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_a,
                   CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cnt_b
            FROM words GROUP BY lang, word
        ), scored AS (
            SELECT lang, word, cnt_a, cnt_b,
                   ln(CAST(cnt_a + 1 AS DOUBLE))
                   - ln(CAST(sum(cnt_a) OVER w + count(*) OVER w AS DOUBLE))
                   - ln(CAST(cnt_b + 1 AS DOUBLE))
                   + ln(CAST(sum(cnt_b) OVER w + count(*) OVER w AS DOUBLE))
                   AS drift
            FROM aligned
            WINDOW w AS (PARTITION BY lang)
        )
        SELECT lang, word, cnt_a, cnt_b, drift, rnk FROM (
            SELECT *, CAST(row_number() OVER (
                       PARTITION BY lang
                       ORDER BY round(abs(drift), 9) DESC, word) AS INTEGER) AS rnk
            FROM scored
        ) r WHERE rnk <= 5
        """,
        "corpus distribution-shift monitor: smoothed log-odds drift of "
        "term frequencies between deterministic corpus halves, top-k "
        "per language (float rank snapped at round-9, tfidf precedent)",
    ),
    "vocab_coverage": QuerySpec(
        _docs(ta.vocab_coverage),
        f"""{WORDS_CTE}, counts AS (
            SELECT word, count(*) AS cnt FROM words GROUP BY word
        ), ranked AS (
            SELECT cnt,
                   row_number() OVER (ORDER BY cnt DESC, word) AS rank,
                   sum(cnt) OVER (ORDER BY cnt DESC, word
                                  ROWS UNBOUNDED PRECEDING) AS cum_tokens,
                   (SELECT sum(cnt) FROM counts) AS total_tokens
            FROM counts
        ), hits AS (
            SELECT t.target_pct, rank, cum_tokens, total_tokens,
                   row_number() OVER (PARTITION BY t.target_pct
                                      ORDER BY rank) AS rn
            FROM ranked
            CROSS JOIN (SELECT unnest([50, 90, 95, 99]) AS target_pct) t
            WHERE cum_tokens * 100 >= t.target_pct * total_tokens
        )
        SELECT CAST(target_pct AS INTEGER) AS target_pct,
               CAST(rank AS INTEGER) AS vocab_size,
               CAST(cum_tokens AS BIGINT) AS covered_tokens,
               CAST(total_tokens AS BIGINT) AS total_tokens,
               CAST(cum_tokens AS DOUBLE) / CAST(total_tokens AS BIGINT) AS coverage
        FROM hits WHERE rn = 1
        """,
        "tokenizer vocab sizing: smallest frequency-ranked vocabulary "
        "reaching each coverage target; integer threshold compare",
    ),
    "skipgram_pmi": QuerySpec(
        _docs(ta.skipgram_pmi),
        _pmi_sql(2),
        "word2vec-style window-2 skip-gram co-occurrence PMI; pair "
        "generation is 2 narrow slides, never a positional self-join",
    ),
    "token_count": QuerySpec(
        _docs(ta.token_count),
        f"""
        SELECT doc_id,
               CAST(len({TOKENS_SQL}) AS INTEGER) AS n_ws_tokens,
               CAST(len(regexp_extract_all(text, '[\\w]+|{CLEAN_SQL}')) AS INTEGER) AS n_bpe_tokens
        FROM documents
        """,
    ),
    "quality_score": QuerySpec(
        _docs(ta.quality_score),
        f"""
        WITH base AS (
            SELECT doc_id, {TOKENS_SQL} AS tk,
                   length(text) AS n_chars,
                   length(regexp_replace(text, '[^\\w]', '', 'g')) AS n_word_chars,
                   length(regexp_replace(text, '[\\w{WS_SQL}]', '', 'g')) AS n_punct
            FROM documents
        )
        SELECT doc_id,
               CAST(len(tk) AS INTEGER) AS n_tokens,
               CAST(n_punct AS DOUBLE) / NULLIF(n_chars, 0) AS punct_ratio,
               CAST(n_word_chars AS DOUBLE) / NULLIF(n_chars, 0) AS alpha_ratio,
               CAST(len(list_filter(tk, t -> t IN ('the', 'a', 'of', 'and', 'to'))) AS DOUBLE) / NULLIF(len(tk), 0) AS stopword_ratio,
               CAST(n_word_chars AS DOUBLE) / NULLIF(len(tk), 0) AS avg_token_len
        FROM base
        """,
    ),
    "language_id": QuerySpec(_docs(ta.language_id), _lang_id_sql()),
    # ---- relational (TPC-H-ish) ----
    "q1_pricing_summary": QuerySpec(
        _tables(relational.q1_pricing_summary),
        f"""
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty,
               {_stable_sum(_money('l_extendedprice'))} AS sum_base_price,
               {_stable_sum(DISC_PRICE_DEC)} AS sum_disc_price,
               {_stable_sum(CHARGE_DEC)} AS sum_charge,
               avg(l_quantity) AS avg_qty,
               {_stable_avg(_money('l_extendedprice'))} AS avg_price,
               {_stable_avg(_rate('l_discount'))} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
        """,
    ),
    "filter_project": QuerySpec(
        _tables(relational.filter_project),
        """
        SELECT l_orderkey, l_linenumber,
               l_extendedprice * (1 - l_discount) AS disc_price,
               l_quantity AS qty
        FROM lineitem WHERE l_quantity > 45 AND l_discount < 0.05
        """,
    ),
    "join_revenue_by_nation": QuerySpec(
        _tables(relational.join_revenue_by_nation),
        f"""
        SELECT r_name, n_name,
               {_stable_sum(DISC_PRICE_DEC)} AS revenue,
               count(*) AS n_items
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name, n_name ORDER BY r_name, n_name
        """,
    ),
    "q3_shipping_priority": QuerySpec(
        _tables(relational.q3_shipping_priority),
        f"""
        SELECT o_orderkey, o_orderdate, o_orderpriority,
               {_stable_sum(DISC_PRICE_DEC)} AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1998-03-15'
          AND l_shipdate > TIMESTAMP '1998-03-15'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey LIMIT 10
        """,
    ),
    "join_left_order_counts": QuerySpec(
        _tables(relational.join_left_order_counts),
        """
        SELECT c_custkey, c_name, count(o_orderkey) AS n_orders
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey, c_name ORDER BY c_custkey
        """,
    ),
    "join_semi_recent_customers": QuerySpec(
        _tables(relational.join_semi_recent_customers),
        """
        SELECT c_custkey, c_name, c_mktsegment FROM customer
        WHERE EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
        ORDER BY c_custkey
        """,
    ),
    "join_anti_customers_without_orders": QuerySpec(
        _tables(relational.join_anti_customers_without_orders),
        """
        SELECT c_custkey, c_name, c_acctbal FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        ORDER BY c_custkey
        """,
    ),
    "agg_order_priorities": QuerySpec(
        _tables(relational.agg_order_priorities),
        f"""
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(DISTINCT o_custkey) AS n_customers,
               {_stable_sum(_money('o_totalprice'))} AS sum_price,
               {_stable_avg(_money('o_totalprice'))} AS avg_price,
               min(o_totalprice) AS min_price,
               max(o_totalprice) AS max_price
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ),
    "rollup_returns": QuerySpec(
        _tables(relational.rollup_returns),
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n_rows
        FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
    ),
    "cube_status_priority": QuerySpec(
        _tables(relational.cube_status_priority),
        f"""
        SELECT o_orderstatus, o_orderpriority,
               {_stable_sum(_money('o_totalprice'))} AS sum_price, count(*) AS n_orders
        FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
        ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST
        """,
    ),
    "window_top_orders_per_customer": QuerySpec(
        _tables(relational.window_top_orders_per_customer),
        """
        SELECT o_custkey, o_orderkey, o_totalprice, rnk FROM (
            SELECT o_custkey, o_orderkey, o_totalprice,
                   CAST(row_number() OVER (PARTITION BY o_custkey
                        ORDER BY o_totalprice DESC, o_orderkey) AS INTEGER) AS rnk
            FROM orders
        ) t WHERE rnk <= 3 ORDER BY o_custkey, rnk
        """,
    ),
    "window_running_revenue": QuerySpec(
        _tables(relational.window_running_revenue),
        f"""
        SELECT o_custkey, o_orderkey, o_orderdate,
               CAST(sum({_money('o_totalprice')}) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_revenue
        FROM orders
        """,
    ),
    "window_price_delta": QuerySpec(
        _tables(relational.window_price_delta),
        """
        SELECT o_custkey, o_orderkey, o_totalprice AS price,
               lag(o_totalprice) OVER w AS prev_price,
               o_totalprice - lag(o_totalprice) OVER w AS price_delta
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        """,
    ),
    "window_functions_battery": QuerySpec(
        _tables(relational.window_functions_battery),
        """
        SELECT o_custkey, o_orderkey,
               lead(o_totalprice) OVER w AS next_price,
               first_value(o_totalprice) OVER wf AS first_price,
               last_value(o_totalprice) OVER wf AS last_price,
               CAST(ntile(4) OVER w AS INTEGER) AS quartile,
               CAST(dense_rank() OVER w AS INTEGER) AS drank,
               percent_rank() OVER w AS prank,
               cume_dist() OVER w AS cdist
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
               wf AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        """,
    ),
    "min_cost_part_supplier": QuerySpec(
        _tables(relational.min_cost_part_supplier),
        """
        WITH joined AS (
            SELECT p_partkey, p_name, s_suppkey, s_name,
                   l_extendedprice / l_quantity AS unit_price
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supplier ON l_suppkey = s_suppkey
        ), ranked AS (
            SELECT *, min(unit_price) OVER (PARTITION BY p_partkey) AS min_unit_price
            FROM joined
        )
        SELECT DISTINCT p_partkey, p_name, s_suppkey, s_name, unit_price
        FROM ranked WHERE unit_price = min_unit_price
        ORDER BY p_partkey, s_suppkey
        """,
    ),
    "topk_expensive_orders": QuerySpec(
        _tables(relational.topk_expensive_orders),
        """
        SELECT o_orderkey, o_custkey, o_totalprice, o_orderpriority
        FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 25
        """,
    ),
    "set_ops_segments": QuerySpec(
        _tables(relational.set_ops_segments),
        """
        WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             machinery AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
             urgent AS (SELECT o_custkey AS c_custkey FROM orders WHERE o_orderpriority = '1-URGENT')
        SELECT c_custkey, 'union' AS op FROM (SELECT * FROM building UNION SELECT * FROM machinery) u
        UNION ALL
        SELECT c_custkey, 'intersect' AS op FROM (SELECT * FROM building INTERSECT SELECT * FROM urgent) i
        UNION ALL
        SELECT c_custkey, 'except' AS op FROM (SELECT * FROM building EXCEPT SELECT * FROM urgent) e
        ORDER BY op, c_custkey
        """,
    ),
    "scalar_functions_showcase": QuerySpec(
        _tables(relational.scalar_functions_showcase),
        """
        SELECT o_orderkey,
               upper(o_orderstatus) AS status_upper,
               substring(o_orderpriority, 1, 1) AS priority_code,
               CAST(length(o_orderpriority) AS INTEGER) AS priority_len,
               concat_ws('-', o_orderstatus, o_orderpriority) AS status_priority,
               CAST(year(o_orderdate) AS INTEGER) AS order_year,
               CAST(month(o_orderdate) AS INTEGER) AS order_month,
               CAST(day(o_orderdate) AS INTEGER) AS order_day,
               round(o_totalprice, 0) AS price_rounded,
               abs(o_totalprice - 1000) AS price_abs_dev,
               sqrt(o_totalprice) AS price_sqrt,
               CASE WHEN o_totalprice > 1000 THEN 'big' ELSE 'small' END AS size_class
        FROM orders
        """,
    ),
    "set_ops_multiset": QuerySpec(
        _tables(relational.set_ops_multiset),
        """
        WITH building AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             machinery AS (SELECT c_nationkey FROM customer WHERE c_mktsegment = 'MACHINERY'),
             tagged AS (
                SELECT c_nationkey, 'intersect_all' AS op
                FROM (SELECT * FROM building INTERSECT ALL SELECT * FROM machinery) i
                UNION ALL
                SELECT c_nationkey, 'except_all' AS op
                FROM (SELECT * FROM building EXCEPT ALL SELECT * FROM machinery) e
             )
        SELECT op, c_nationkey, count(*) AS multiplicity
        FROM tagged GROUP BY op, c_nationkey ORDER BY op, c_nationkey
        """,
    ),
    "nations_in_region": QuerySpec(
        _tables(relational.nations_in_region),
        """
        SELECT r_name,
               string_agg(n_name, ',' ORDER BY n_name) AS nations,
               count(*) AS n_nations
        FROM nation JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
        """,
    ),
    "having_active_customers": QuerySpec(
        _tables(relational.having_active_customers),
        f"""
        SELECT o_custkey, count(*) AS n_orders,
               {_stable_sum(_money('o_totalprice'))} AS total_spend
        FROM orders GROUP BY o_custkey
        HAVING count(*) >= 12 ORDER BY o_custkey
        """,
    ),
    "percentiles_by_priority": QuerySpec(
        _tables(relational.percentiles_by_priority),
        """
        SELECT o_orderpriority,
               quantile_cont(o_totalprice, 0.25) AS p25,
               quantile_cont(o_totalprice, 0.5) AS p50,
               quantile_cont(o_totalprice, 0.75) AS p75
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ),
    "grouping_sets_returns": QuerySpec(
        _tables(relational.grouping_sets_returns),
        """
        SELECT l_returnflag, l_linestatus,
               sum(l_quantity) AS sum_qty, count(*) AS n_rows
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
        """,
    ),
    "pivot_status_by_priority": QuerySpec(
        _tables(relational.pivot_status_by_priority),
        f"""
        SELECT o_orderpriority,
               {_stable_sum(f"CASE WHEN o_orderstatus = 'F' THEN {_money('o_totalprice')} END")} AS "F",
               {_stable_sum(f"CASE WHEN o_orderstatus = 'O' THEN {_money('o_totalprice')} END")} AS "O",
               {_stable_sum(f"CASE WHEN o_orderstatus = 'P' THEN {_money('o_totalprice')} END")} AS "P"
        FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
    ),
    "unpivot_status_totals": QuerySpec(
        _tables(relational.unpivot_status_totals),
        f"""
        WITH wide AS (
            SELECT o_orderpriority,
                   {_stable_sum(f"CASE WHEN o_orderstatus = 'F' THEN {_money('o_totalprice')} END")} AS f_total,
                   {_stable_sum(f"CASE WHEN o_orderstatus = 'O' THEN {_money('o_totalprice')} END")} AS o_total,
                   {_stable_sum(f"CASE WHEN o_orderstatus = 'P' THEN {_money('o_totalprice')} END")} AS p_total
            FROM orders GROUP BY o_orderpriority
        ), long AS (
            SELECT o_orderpriority, 'F' AS status, f_total AS total_price FROM wide
            UNION ALL SELECT o_orderpriority, 'O', o_total FROM wide
            UNION ALL SELECT o_orderpriority, 'P', p_total FROM wide
        )
        SELECT o_orderpriority, status, total_price FROM long
        WHERE total_price IS NOT NULL
        ORDER BY o_orderpriority, status
        """,
    ),
    "range_join_price_bands": QuerySpec(
        _tables(relational.range_join_price_bands),
        f"""
        WITH bands(band, lo, hi) AS (VALUES {", ".join(f"('{b}', {lo}, {hi})" for b, lo, hi in relational.PRICE_BANDS)})
        SELECT band, count(*) AS n_orders, {_stable_sum(_money('o_totalprice'))} AS sum_price
        FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
        GROUP BY band ORDER BY band
        """,
    ),
    "copurchase_pairs": QuerySpec(
        _tables(relational.copurchase_pairs),
        """
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
                   count(*) AS n_ab
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2
            HAVING count(*) >= 2
        ), freq AS (
            SELECT l_partkey, count(*) AS n_orders FROM op GROUP BY 1
        ), total AS (
            SELECT count(DISTINCT l_orderkey) AS n_orders_total FROM op
        )
        SELECT part_a, part_b, n_ab,
               fa.n_orders AS n_a, fb.n_orders AS n_b,
               CAST(n_ab * n_orders_total AS DOUBLE)
               / CAST(fa.n_orders * fb.n_orders AS DOUBLE) AS lift
        FROM pairs
        JOIN freq fa ON part_a = fa.l_partkey
        JOIN freq fb ON part_b = fb.l_partkey
        CROSS JOIN total
        """,
        "market-basket pair counts + lift; pair join fan-out bounded by "
        "items-per-order, so linear in lineitems at any scale",
    ),
    "skyline_parts": QuerySpec(
        _tables(relational.skyline_parts),
        """
        -- price-sweep skyline, O(n log n): dominated(p) iff some
        -- strictly cheaper point has size >= p.size (prev_max >= s)
        -- or a same-price point has size > s (ms > s) — exactly the
        -- NOT EXISTS dominance predicate, which as written was an
        -- all-pairs scan (4e10 comparisons at sf1.0; this form is the
        -- independent textbook sweep, not the Spark bucketed plan)
        WITH per_price AS (
            SELECT p_retailprice AS pr, max(p_size) AS ms
            FROM part GROUP BY 1
        ), sweep AS (
            SELECT pr, ms,
                   max(ms) OVER (ORDER BY pr
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS prev_max
            FROM per_price
        )
        SELECT p.p_partkey, p.p_retailprice, p.p_size
        FROM part p JOIN sweep s ON p.p_retailprice = s.pr
        WHERE (s.prev_max IS NULL OR s.prev_max < p.p_size)
          AND s.ms = p.p_size
        """,
        "Pareto frontier (min price, max size): two-phase bucketed window "
        "skyline (Spark) vs the independent price-sweep formulation of the "
        "same dominance predicate (oracle) — same set",
    ),
    "customers_above_nation_avg": QuerySpec(
        _tables(relational.customers_above_nation_avg),
        """
        WITH nation_avg AS (
            SELECT c_nationkey, avg(c_acctbal) AS nation_avg_bal
            FROM customer GROUP BY c_nationkey
        )
        SELECT c_custkey, c_name, c_acctbal, nation_avg_bal
        FROM customer JOIN nation_avg USING (c_nationkey)
        WHERE c_acctbal > nation_avg_bal
        ORDER BY c_custkey
        """,
    ),
    "date_functions_showcase": QuerySpec(
        _tables(relational.date_functions_showcase),
        """
        SELECT o_orderkey,
               CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
               CAST(datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS days_since_epoch_start,
               CAST(CAST(CAST(o_orderdate AS DATE) + INTERVAL 30 DAY AS DATE) AS TIMESTAMP) AS due_date,
               date_trunc('month', o_orderdate) AS order_month_start,
               CAST(quarter(o_orderdate) AS INTEGER) AS order_quarter,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP) AS month_end
        FROM orders
        """,
    ),
    # ---- dedup ----
    "dedup_exact": QuerySpec(
        _docs(dedup.dedup_exact),
        f"""
        SELECT {text_fingerprint_sql('text')} AS fingerprint,
               min(doc_id) AS keep_doc_id, count(*) AS n_dups
        FROM documents GROUP BY 1 ORDER BY keep_doc_id
        """,
    ),
    "minhash_signatures": QuerySpec(_docs(dedup.minhash_signatures), _minhash_sql()),
    "minhash_lsh_pairs": QuerySpec(_docs(dedup.minhash_lsh_pairs), _minhash_pairs_sql()),
    "simhash_signatures": QuerySpec(_docs(dedup.simhash_signatures), _simhash_sql()),
    "winnow_fingerprints": QuerySpec(
        _docs(dedup.winnow_fingerprints),
        _winnow_sql(),
    ),
    "jaccard_pairs": QuerySpec(
        _docs(lambda df: dedup.jaccard_pairs(df, 0.5)),
        _jaccard_sql(threshold=0.5),
    ),
    # ---- similarity search ----
    "simhash_near_pairs": QuerySpec(
        _docs(dedup.simhash_near_pairs),
        _simhash_pairs_sql(),
        "banded Hamming-distance near-dup (pigeonhole: distance<4 pairs must share a 4-bit band)",
    ),
    "dedup_components": QuerySpec(
        _docs(graph.dedup_components),
        f"""
        WITH pairs AS (
            {_minhash_pairs_sql()}
        ), edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), {_cc_comp_ctes()}
        SELECT doc_id, component FROM comp ORDER BY doc_id
        """,
        "iterative min-label propagation (Spark) vs the SAME capped unrolled rounds (oracle): identical fixpoint, O(rounds·E) — replaced the r04 reachability closure, the sf3.0 oracle ceiling",
    ),
    "incremental_ingest_dedup": QuerySpec(
        _docs(dedup.incremental_ingest_dedup),
        f"""
        WITH fps AS (
            SELECT doc_id, lang, {text_fingerprint_sql('text')} AS fingerprint
            FROM documents
        ), corpus AS (
            SELECT DISTINCT fingerprint FROM fps WHERE doc_id % 10 < 8
        ), batch AS (
            SELECT doc_id, lang, fingerprint FROM fps WHERE doc_id % 10 >= 8
        ), winners AS (
            SELECT fingerprint, min(doc_id) AS keep_doc_id
            FROM batch GROUP BY fingerprint
        ), flagged AS (
            SELECT b.lang,
                   (c.fingerprint IS NOT NULL) AS dup_corpus,
                   (b.doc_id != w.keep_doc_id) AS dup_batch
            FROM batch b
            LEFT JOIN corpus c ON b.fingerprint = c.fingerprint
            JOIN winners w ON b.fingerprint = w.fingerprint
        )
        SELECT lang,
               count(*) AS n_batch,
               count(*) FILTER (WHERE dup_corpus) AS n_dup_vs_corpus,
               count(*) FILTER (WHERE NOT dup_corpus AND dup_batch) AS n_dup_in_batch,
               count(*) FILTER (WHERE NOT dup_corpus AND NOT dup_batch) AS n_admitted
        FROM flagged GROUP BY lang ORDER BY lang
        """,
        "continuous-ingestion exact dedup: batch admitted only where novel vs "
        "the standing corpus (fingerprints-only anti join — corpus text never "
        "moves) and within itself",
    ),
    "incremental_ingest_neardup": QuerySpec(
        _docs(dedup.incremental_ingest_neardup),
        # Synthesis knobs (plant mods / offset / suffix) are f-string
        # derived from the dedup.py constants the operator uses, so the
        # two sides cannot desynchronize. The signature/banding chain is
        # the SAME builder minhash_lsh_pairs is oracled with, applied to
        # the corpus∪batch union (one pass — the oracle mirrors values,
        # not the operator's standing-artifact staging).
        f"""
        WITH src AS (
            SELECT doc_id, lang, text FROM documents
        ), plants AS (
            SELECT doc_id + {dedup.INGEST_PLANT_OFFSET} AS doc_id, lang,
                   text || '{dedup.INGEST_PLANT_SUFFIX}' AS text
            FROM src WHERE doc_id % 20 IN {dedup.INGEST_PLANT_MODS}
            UNION ALL
            SELECT doc_id + {dedup.INGEST_PLANT_OFFSET} AS doc_id, lang, text
            FROM src WHERE doc_id % 20 IN {dedup.INGEST_EXACT_PLANT_MODS}
        ), batch AS (
            SELECT doc_id, lang, text FROM src WHERE doc_id % 10 >= 8
            UNION ALL
            SELECT doc_id, lang, text FROM plants
        ), all_docs AS (
            SELECT doc_id, text FROM src WHERE doc_id % 10 < 8
            UNION ALL
            SELECT doc_id, text FROM batch
        ), {_minhash_pairs_ctes(source="all_docs")}, corpus_bands AS (
            SELECT DISTINCT band, band_key FROM banded
            WHERE doc_id < {dedup.INGEST_PLANT_OFFSET} AND doc_id % 10 < 8
        ), batch_bands AS (
            SELECT bd.doc_id, bd.band, bd.band_key
            FROM banded bd JOIN batch b ON bd.doc_id = b.doc_id
        ), fps AS (
            SELECT doc_id, {text_fingerprint_sql('text')} AS fingerprint
            FROM all_docs
        ), corpus_fps AS (
            SELECT DISTINCT fingerprint FROM fps
            WHERE doc_id < {dedup.INGEST_PLANT_OFFSET} AND doc_id % 10 < 8
        ), batch_fp AS (
            SELECT b.doc_id, b.lang, f.fingerprint
            FROM batch b JOIN fps f ON b.doc_id = f.doc_id
        ), winners AS (
            SELECT fingerprint, min(doc_id) AS keep_doc_id
            FROM batch_fp GROUP BY fingerprint
        ), near_corpus AS (
            SELECT DISTINCT bb.doc_id
            FROM batch_bands bb JOIN corpus_bands cb
              ON bb.band = cb.band AND bb.band_key = cb.band_key
        ), staged AS (
            SELECT b.doc_id, b.lang,
                   (cf.fingerprint IS NOT NULL) AS exact_corpus,
                   (b.doc_id != w.keep_doc_id) AS exact_batch,
                   (nc.doc_id IS NOT NULL) AS near_corpus
            FROM batch_fp b
            JOIN winners w ON b.fingerprint = w.fingerprint
            LEFT JOIN corpus_fps cf ON b.fingerprint = cf.fingerprint
            LEFT JOIN near_corpus nc ON b.doc_id = nc.doc_id
        ), survivors AS (
            SELECT doc_id FROM staged
            WHERE NOT exact_corpus AND NOT exact_batch AND NOT near_corpus
        ), near_batch AS (
            SELECT DISTINCT r.doc_id
            FROM batch_bands l JOIN batch_bands r
              ON l.band = r.band AND l.band_key = r.band_key
                 AND l.doc_id < r.doc_id
            WHERE l.doc_id IN (SELECT doc_id FROM survivors)
        ), flagged AS (
            SELECT s.lang, s.exact_corpus, s.exact_batch, s.near_corpus,
                   (nb.doc_id IS NOT NULL) AS near_batch
            FROM staged s LEFT JOIN near_batch nb ON s.doc_id = nb.doc_id
        )
        SELECT lang,
               count(*) AS n_batch,
               count(*) FILTER (WHERE exact_corpus) AS n_exact_vs_corpus,
               count(*) FILTER (WHERE NOT exact_corpus AND exact_batch) AS n_exact_in_batch,
               count(*) FILTER (WHERE NOT exact_corpus AND NOT exact_batch
                                AND near_corpus) AS n_near_vs_corpus,
               count(*) FILTER (WHERE NOT exact_corpus AND NOT exact_batch
                                AND NOT near_corpus AND near_batch) AS n_near_in_batch,
               count(*) FILTER (WHERE NOT exact_corpus AND NOT exact_batch
                                AND NOT near_corpus AND NOT near_batch) AS n_admitted
        FROM flagged GROUP BY lang ORDER BY lang
        """,
        "continuous ingestion with a MinHash-LSH near-dup admission tier: the "
        "corpus appears only as fingerprints + its persisted band table (the "
        "standing index artifact); planted one-token variants exercise both "
        "the near-vs-corpus and near-within-batch rejection branches",
    ),
    "pii_scrub_stats": QuerySpec(
        _docs(ta.pii_scrub_stats),
        f"""
        WITH planted AS (
            -- deterministic PII synthesis, mirrored from the operator:
            -- every 3rd doc gains an email + IPv4, every 2nd source a URL.
            SELECT lang,
                   CASE WHEN doc_id % 3 = 0 THEN
                        text || ' contact user' || CAST(doc_id AS VARCHAR)
                             || '@mail.example from 10.'
                             || CAST(doc_id % 256 AS VARCHAR) || '.0.1'
                        ELSE text END AS text,
                   CASE WHEN doc_id % 2 = 0 THEN
                        'https://' || source || '.example/d/' || CAST(doc_id AS VARCHAR)
                        ELSE source END AS source
            FROM documents
        )
        SELECT lang,
               count(*) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '{ta.PII_EMAIL}'))) AS BIGINT) AS total_emails,
               CAST(sum(len(regexp_extract_all(text, '{ta.PII_IPV4}'))) AS BIGINT) AS total_ips,
               CAST(sum(len(regexp_extract_all(source, '{ta.PII_URL}'))) AS BIGINT) AS total_urls,
               CAST(sum(
                   length(text) - length(regexp_replace(regexp_replace(text,
                        '{ta.PII_EMAIL}', '[EMAIL]', 'g'), '{ta.PII_IPV4}', '[IP]', 'g'))
                 + length(source) - length(regexp_replace(source, '{ta.PII_URL}', '[URL]', 'g'))
               ) AS BIGINT) AS chars_redacted
        FROM planted GROUP BY lang ORDER BY lang
        """,
        "PII scrub accounting: email/IPv4/URL detection + redaction with "
        "RE2-safe portable patterns; chars_redacted pins the replacement "
        "arithmetic, not just match counts",
    ),
    "rfm_segments": QuerySpec(
        _tables(relational.rfm_segments),
        f"""
        WITH per_cust AS (
            SELECT o_custkey, max(o_orderdate) AS last_order,
                   count(*) AS frequency,
                   {_stable_sum(_money('o_totalprice'))} AS monetary
            FROM orders GROUP BY o_custkey
        ), ref AS (
            SELECT max(o_orderdate) AS ref_date FROM orders
        ), metrics AS (
            SELECT o_custkey,
                   CAST(date_diff('day', last_order, ref_date) AS INTEGER) AS recency_days,
                   frequency, monetary
            FROM per_cust, ref
        ), cuts AS (
            SELECT quantile_cont(recency_days, 0.2) AS r1, quantile_cont(recency_days, 0.4) AS r2,
                   quantile_cont(recency_days, 0.6) AS r3, quantile_cont(recency_days, 0.8) AS r4,
                   quantile_cont(frequency, 0.2) AS f1, quantile_cont(frequency, 0.4) AS f2,
                   quantile_cont(frequency, 0.6) AS f3, quantile_cont(frequency, 0.8) AS f4,
                   quantile_cont(monetary, 0.2) AS m1, quantile_cont(monetary, 0.4) AS m2,
                   quantile_cont(monetary, 0.6) AS m3, quantile_cont(monetary, 0.8) AS m4
            FROM metrics
        ), scored AS (
            SELECT 6 - (CASE WHEN recency_days <= r1 THEN 1 WHEN recency_days <= r2 THEN 2
                             WHEN recency_days <= r3 THEN 3 WHEN recency_days <= r4 THEN 4
                             ELSE 5 END) AS r_score,
                   CASE WHEN frequency <= f1 THEN 1 WHEN frequency <= f2 THEN 2
                        WHEN frequency <= f3 THEN 3 WHEN frequency <= f4 THEN 4
                        ELSE 5 END AS f_score,
                   CASE WHEN monetary <= m1 THEN 1 WHEN monetary <= m2 THEN 2
                        WHEN monetary <= m3 THEN 3 WHEN monetary <= m4 THEN 4
                        ELSE 5 END AS m_score,
                   monetary
            FROM metrics, cuts
        )
        SELECT r_score, f_score, m_score,
               count(*) AS n_customers,
               {_stable_sum(_money('monetary'))} AS total_monetary
        FROM scored GROUP BY 1, 2, 3 ORDER BY r_score, f_score, m_score
        """,
        "RFM segmentation by broadcast quintile cutpoints (exact percentiles, "
        "the percentile_approx swap at scale) — no global ntile sort, "
        "tie handling order-independent by construction",
    ),
    "leakage_safe_splits": QuerySpec(
        _docs(curation.leakage_safe_splits),
        f"""
        WITH pairs AS (
            {_minhash_pairs_sql()}
        ), edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL
            SELECT doc_b, doc_a FROM pairs
        ), {_cc_comp_ctes()}, labeled AS (
            SELECT d.doc_id, d.n_chars,
                   COALESCE(c.component, d.doc_id) AS component
            FROM documents d LEFT JOIN comp c ON d.doc_id = c.doc_id
        ), drawn AS (
            SELECT n_chars, component,
                   {h32_sql("(CAST(component AS VARCHAR) || '|split')")} % 1000 AS draw
            FROM labeled
        )
        SELECT CASE WHEN draw < 900 THEN 'train'
                    WHEN draw < 950 THEN 'val'
                    ELSE 'test' END AS split,
               count(*) AS n_docs,
               count(DISTINCT component) AS n_components,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM drawn GROUP BY 1 ORDER BY split
        """,
        "leakage-safe train/val/test: the split draw hashes the near-dup "
        "CLUSTER id (LSH pairs -> transitive closure), so paraphrase "
        "siblings can never straddle train and eval",
    ),
    "pagerank_trade_flows": QuerySpec(
        _tables(graph.pagerank_trade_flows),
        _pagerank_trade_sql(),
        "fixed-point integer PageRank (5 iterations) on the symmetrized "
        "nation trade graph; Spark loop vs unrolled-CTE oracle, bit-exact "
        "because every step is integral",
    ),
    "bloom_prefilter_stats": QuerySpec(
        _tables(bloom.bloom_prefilter_stats),
        f"""
        WITH dimk AS (
            SELECT DISTINCT c_custkey AS k FROM customer
            WHERE c_mktsegment = 'BUILDING'
        ), contrib AS (
            SELECT (pos // 32) AS word,
                   (CAST(1 AS BIGINT) << CAST(pos % 32 AS INTEGER)) AS mask
            FROM (
                -- k=3 positions from the LANES of ONE md5 (the MinHash
                -- 4-lane trick), matching bloom.py's fit and probe.
                SELECT ({h32_lane_sql("CAST(k AS VARCHAR)", 0)} % 1024) AS pos FROM dimk
                UNION ALL
                SELECT ({h32_lane_sql("CAST(k AS VARCHAR)", 1)} % 1024) FROM dimk
                UNION ALL
                SELECT ({h32_lane_sql("CAST(k AS VARCHAR)", 2)} % 1024) FROM dimk
            )
        ), bloom AS (
            -- bit_or fold: associative, so identical to Spark's
            -- partition-parallel fold and to the driver's dense array.
            SELECT word, bit_or(mask) AS mask FROM contrib GROUP BY word
        ), probe AS (
            SELECT o_orderpriority, o_custkey,
                   ({h32_lane_sql("CAST(o_custkey AS VARCHAR)", 0)} % 1024) AS p0,
                   ({h32_lane_sql("CAST(o_custkey AS VARCHAR)", 1)} % 1024) AS p1,
                   ({h32_lane_sql("CAST(o_custkey AS VARCHAR)", 2)} % 1024) AS p2
            FROM orders
        ), tested AS (
            SELECT pr.o_orderpriority, pr.o_custkey,
                   ((COALESCE(b0.mask, 0) & (CAST(1 AS BIGINT) << CAST(pr.p0 % 32 AS INTEGER))) != 0
                    AND (COALESCE(b1.mask, 0) & (CAST(1 AS BIGINT) << CAST(pr.p1 % 32 AS INTEGER))) != 0
                    AND (COALESCE(b2.mask, 0) & (CAST(1 AS BIGINT) << CAST(pr.p2 % 32 AS INTEGER))) != 0
                   ) AS bloom_pass
            FROM probe pr
            LEFT JOIN bloom b0 ON b0.word = pr.p0 // 32
            LEFT JOIN bloom b1 ON b1.word = pr.p1 // 32
            LEFT JOIN bloom b2 ON b2.word = pr.p2 // 32
        ), final AS (
            SELECT t.o_orderpriority, t.bloom_pass,
                   (dk.k IS NOT NULL) AS is_match
            FROM tested t LEFT JOIN dimk dk ON dk.k = t.o_custkey
        )
        SELECT o_orderpriority,
               count(*) AS n_orders,
               count(*) FILTER (WHERE bloom_pass) AS n_bloom_pass,
               count(*) FILTER (WHERE is_match) AS n_match,
               count(*) FILTER (WHERE bloom_pass AND NOT is_match) AS n_false_pos,
               count(*) FILTER (WHERE is_match AND NOT bloom_pass) AS n_false_neg
        FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "runtime Bloom-filter join prefiltering as an evaluation harness: "
        "the portable-h32 bit set is rebuilt bit-for-bit by the oracle, so "
        "pass/false-positive accounting (and the zero-false-negative "
        "theorem) are oracle-checked per priority group",
    ),
    "triangle_counts": QuerySpec(
        _tables(graph.triangle_counts),
        """
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), edges AS (
            SELECT CAST(a.l_partkey AS BIGINT) AS u,
                   CAST(b.l_partkey AS BIGINT) AS v
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ), tri AS (
            -- id-ordered enumeration (a < b < c): each triangle once.
            SELECT e1.u AS a, e1.v AS b, e2.v AS c
            FROM edges e1
            JOIN edges e2 ON e2.u = e1.v
            JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
        ), roles AS (
            SELECT a AS partkey FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri
        )
        SELECT partkey, count(*) AS n_triangles
        FROM roles GROUP BY partkey ORDER BY partkey
        """,
        "degree-ordered wedge-join triangle counting (Spark, hub-proof "
        "O(E^1.5)) vs naive id-ordered 3-way self-join (oracle): the "
        "orientation trick changes the plan, not the answer",
    ),
    "lsh_scurve_calibration": QuerySpec(
        _docs(dedup.lsh_scurve_calibration),
        # Synthesis knobs (sample cap / grades / eligibility) f-string
        # derived from the dedup.py constants the operator uses; the
        # signature/banding chain is the SAME builder minhash_lsh_pairs
        # is oracled with, over the originals∪variants union.
        f"""
        WITH eligible AS (
            SELECT doc_id, {TOKENS_SQL} AS tk FROM documents
            WHERE len({TOKENS_SQL}) >= {dedup.SCURVE_MIN_TOKENS}
        ), sample AS (
            SELECT doc_id, tk FROM eligible
            ORDER BY {h32_sql("CAST(doc_id AS VARCHAR)")}, doc_id
            LIMIT {dedup.SCURVE_SAMPLE_CAP}
        ), variants AS (
            SELECT doc_id * 10 + p + 1 AS vid, doc_id AS src_id,
                   array_to_string(
                       list_concat(
                           tk[1:CAST((len(tk) * p + 3) // 4 AS INTEGER)],
                           list_transform(
                               range(1, len(tk) - CAST((len(tk) * p + 3) // 4 AS INTEGER) + 1),
                               i -> 'zz' || CAST(doc_id AS VARCHAR) || 'x'
                                    || CAST(p AS VARCHAR) || 'w' || CAST(i AS VARCHAR))),
                       ' ') AS text
            FROM sample
            CROSS JOIN (SELECT unnest({list(dedup.SCURVE_GRADES)}) AS p)
        ), all_docs AS (
            SELECT doc_id, array_to_string(tk, ' ') AS text FROM sample
            UNION ALL
            SELECT vid AS doc_id, text FROM variants
        ), {_minhash_pairs_ctes(source="all_docs")}, ssh AS (
            SELECT DISTINCT doc_id, shingle FROM shingles
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM ssh GROUP BY doc_id
        ), pairs AS (
            SELECT src_id, vid FROM variants
        ), inter AS (
            SELECT l.doc_id AS src_id, r.doc_id AS vid, count(*) AS n_inter
            FROM ssh l JOIN ssh r ON l.shingle = r.shingle
            WHERE (l.doc_id, r.doc_id) IN (SELECT (src_id, vid) FROM pairs)
            GROUP BY 1, 2
        ), coll AS (
            SELECT DISTINCT l.doc_id AS src_id, r.doc_id AS vid
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.band_key = r.band_key
            WHERE (l.doc_id, r.doc_id) IN (SELECT (src_id, vid) FROM pairs)
        ), graded AS (
            SELECT (10 * COALESCE(i.n_inter, 0))
                   // (sa.sz + sb.sz - COALESCE(i.n_inter, 0)) AS sim_decile,
                   (c.src_id IS NOT NULL) AS collided
            FROM pairs p
            JOIN sizes sa ON p.src_id = sa.doc_id
            JOIN sizes sb ON p.vid = sb.doc_id
            LEFT JOIN inter i ON p.src_id = i.src_id AND p.vid = i.vid
            LEFT JOIN coll c ON p.src_id = c.src_id AND p.vid = c.vid
        )
        SELECT CAST(sim_decile AS INTEGER) AS sim_decile,
               count(*) AS n_pairs,
               count(*) FILTER (WHERE collided) AS n_collisions,
               CAST(count(*) FILTER (WHERE collided) AS DOUBLE) / count(*)
                   AS collision_rate
        FROM graded GROUP BY sim_decile ORDER BY sim_decile
        """,
        "empirical LSH S-curve: collision rate of the (k=8, r=2, b=4) banding "
        "per exact-Jaccard decile over a synthesized similarity ladder "
        "(KMV-sampled docs x 5 token-keep grades) — the banding-parameter "
        "calibration table; only corpus-wide work is the sample scan",
    ),
    "lsh_dedup_eval": QuerySpec(
        _docs(dedup.lsh_dedup_eval),
        f"""
        WITH {_shingles_ctes()}, deqids AS (
            SELECT doc_id FROM documents
            ORDER BY {h32_sql("CAST(doc_id AS VARCHAR)")}, doc_id
            LIMIT {dedup.EVAL_QUERIES_CAP}
        ), dsh AS (
            SELECT DISTINCT doc_id, shingle FROM shingles
        ), sizes AS (
            SELECT doc_id, count(*) AS sz FROM dsh GROUP BY doc_id
        ), inter AS (
            SELECT q.doc_id AS q_id, d.doc_id AS doc_id,
                   count(*) AS n_inter
            FROM (SELECT * FROM dsh WHERE doc_id IN (SELECT doc_id FROM deqids)) q
            JOIN dsh d USING (shingle)
            WHERE q.doc_id <> d.doc_id
            GROUP BY 1, 2
        ), truth AS (
            SELECT DISTINCT least(q_id, i.doc_id) AS doc_a,
                            greatest(q_id, i.doc_id) AS doc_b
            FROM inter i
            JOIN sizes sq ON sq.doc_id = i.q_id
            JOIN sizes sd ON sd.doc_id = i.doc_id
            WHERE n_inter * 2 >= 1 * (sq.sz + sd.sz - n_inter)
        ), pred AS (
            SELECT doc_a, doc_b FROM ({_minhash_pairs_sql()})
            WHERE doc_a IN (SELECT doc_id FROM deqids)
               OR doc_b IN (SELECT doc_id FROM deqids)
        ), hits AS (
            SELECT count(*) AS n_hits
            FROM truth JOIN pred USING (doc_a, doc_b)
        )
        SELECT (SELECT count(*) FROM truth) AS n_truth,
               (SELECT count(*) FROM pred) AS n_predicted,
               n_hits,
               CAST(n_hits AS DOUBLE)
               / NULLIF((SELECT count(*) FROM pred), 0) AS precision,
               CAST(n_hits AS DOUBLE)
               / NULLIF((SELECT count(*) FROM truth), 0) AS recall
        FROM hits
        """,
        "dedup-index evaluation (the ann_recall of the dedup family): "
        "LSH candidate pairs vs exact shingle-Jaccard truth on a "
        "HARD-BOUNDED KMV query sample; integer threshold test",
    ),
    "tfidf_top_terms": QuerySpec(
        _docs(lambda df: ta.tfidf_top_terms(df, 3)),
        f"""{WORDS_CTE}, counts AS (
            SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
        ), dfs AS (
            SELECT word, count(*) AS df_docs FROM counts GROUP BY 1
        ), total AS (
            SELECT count(*) AS n_docs FROM documents
        ), scored AS (
            SELECT doc_id, c.word, tf, df_docs,
                   tf * ln(n_docs / df_docs) AS tfidf
            FROM counts c JOIN dfs USING (word) CROSS JOIN total
        ), ranked AS (
            SELECT *, CAST(row_number() OVER (PARTITION BY doc_id ORDER BY round(tfidf, 9) DESC, word) AS INTEGER) AS rnk
            FROM scored
        )
        SELECT doc_id, word, tf, df_docs, tfidf, rnk
        FROM ranked WHERE rnk <= 3 ORDER BY doc_id, rnk
        """,
    ),
    "unigram_surprisal_scores": QuerySpec(
        _docs(ta.unigram_surprisal_scores),
        f"""{WORDS_CTE}, tf AS (
            SELECT doc_id, word, count(*) AS tf FROM words GROUP BY 1, 2
        ), vocab AS (
            SELECT word, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY word
        ), totals AS (
            SELECT CAST(sum(cnt) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS v_size
            FROM vocab
        ), surp AS (
            SELECT word,
                   CAST(floor({ta.SURPRISAL_SCALE} * (ln(total + v_size) - ln(cnt + 1))) AS BIGINT) AS surp_cn
            FROM vocab CROSS JOIN totals
        )
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_tokens,
               CAST(sum(tf * surp_cn) AS BIGINT) AS sum_surprisal_cn,
               CAST(sum(tf * surp_cn) AS DOUBLE) / sum(tf) AS mean_surprisal_cn
        FROM tf JOIN surp USING (word)
        GROUP BY doc_id ORDER BY doc_id
        """,
        "CCNet-style perplexity-proxy quality scores: mean token "
        "surprisal under the corpus unigram model, quantized to integer "
        "centinats so per-doc aggregation is an exact integer sum "
        "(pagerank fixed-point precedent); vocab broadcasts",
    ),
    "bigram_surprisal_scores": QuerySpec(
        _docs(ta.bigram_surprisal_scores),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, grams AS (
            SELECT doc_id, unnest({_slide_sql('tk', range(2))}) AS pair FROM toks
        ), pair_tf AS (
            SELECT doc_id, pair, count(*) AS tf FROM grams GROUP BY 1, 2
        ), bi AS (
            SELECT pair, CAST(sum(tf) AS BIGINT) AS c_pair
            FROM pair_tf GROUP BY pair
        ), words AS (
            SELECT unnest(tk) AS word FROM toks
        ), uni AS (
            SELECT word, CAST(count(*) AS BIGINT) AS c_w FROM words GROUP BY word
        ), totals AS (
            SELECT CAST(sum(c_w) AS BIGINT) AS total,
                   CAST(count(*) AS BIGINT) AS v_size
            FROM uni
        ), model AS (
            SELECT pair,
                   CAST(floor({ta.SURPRISAL_SCALE} * -ln(
                       0.5 * (CAST(c_pair AS DOUBLE) / CAST(c_prev AS DOUBLE))
                       + 0.5 * ((CAST(c_cur AS DOUBLE) + 1.0)
                       / (CAST(total AS DOUBLE) + CAST(v_size AS DOUBLE)))
                   )) AS BIGINT) AS surp_cn
            FROM (
                SELECT pair, c_pair,
                       ua.c_w AS c_prev, ub.c_w AS c_cur
                FROM bi
                JOIN uni ua ON split_part(pair, ' ', 1) = ua.word
                JOIN uni ub ON split_part(pair, ' ', 2) = ub.word
            ) b CROSS JOIN totals
        )
        SELECT doc_id,
               CAST(sum(tf) AS BIGINT) AS n_pairs,
               CAST(sum(tf * surp_cn) AS BIGINT) AS sum_surprisal_cn,
               CAST(sum(tf * surp_cn) AS DOUBLE) / sum(tf) AS mean_surprisal_cn
        FROM pair_tf JOIN model USING (pair)
        GROUP BY doc_id ORDER BY doc_id
        """,
        "interpolated bigram perplexity proxy: Jelinek-Mercer half-half "
        "of bigram MLE and add-one unigram, per-pair-type surprisal "
        "quantized to integer centinats (one ln per distinct bigram), "
        "exact integer per-doc sums; the model join is a plain pair "
        "equi-join (bigram vocabularies outgrow broadcast at scale)",
    ),
    "bpe_merge_candidates": QuerySpec(
        _docs(lambda df: ta.bpe_merge_candidates(df, 20)),
        f"""{WORDS_CTE.replace("SELECT doc_id, lang,", "SELECT")}, wc AS (
            SELECT word, count(*) AS cnt FROM words GROUP BY word
        ), pairs AS (
            SELECT unnest(list_transform(range(1, length(word)),
                          i -> substr(word, CAST(i AS INTEGER), 2))) AS pair,
                   cnt
            FROM wc
        ), agg AS (
            SELECT pair, CAST(sum(cnt) AS BIGINT) AS n_occurrences
            FROM pairs GROUP BY pair
        )
        SELECT pair, n_occurrences, rnk FROM (
            SELECT pair, n_occurrences,
                   CAST(row_number() OVER (ORDER BY n_occurrences DESC, pair) AS INTEGER) AS rnk
            FROM agg
        ) r WHERE rnk <= 20
        """,
        "first BPE merge iteration: adjacent char-pair counts weighted "
        "by word frequency — pair stats over the VOCABULARY, never the "
        "token stream (the BPE-trainer optimization); top-k window on "
        "the pair alphabet",
    ),
    "pq_code_histogram": QuerySpec(
        _emb(similarity.pq_code_histogram),
        _pq_histogram_sql(),
        "PQ codebook-balance check: code usage per subspace (PQ analog "
        "of ivf_histogram); encode is narrow per-row expressions",
    ),
    "knn_ivfpq": QuerySpec(
        _emb(lambda df: similarity.knn_ivfpq(df, 10)),
        _knn_sql("ivfpq"),
        "IVF-PQ composed tier: inverted lists of 8-byte PQ codes — list "
        "pruning AND compressed ADC scoring, the production ANN layout; "
        "oracle chain is knn_ivf's iq probe over knn_pq's code CTEs",
    ),
    "knn_pq": QuerySpec(
        _emb(lambda df: similarity.knn_pq(df, 10)),
        _knn_sql("pq"),
        "PQ ADC top-k: per-candidate cost is 4 lookups + 3 adds, not a "
        "64-dim dot — the memory-compressed ANN tier; fixed-order sum "
        "keeps scores bit-identical cross-engine",
    ),
    "knn_pca": QuerySpec(
        _emb(lambda df: similarity.knn_pca(df, 10)),
        _knn_sql("pca"),
        "PCA-reduced cosine top-k: both sides project through the fitted "
        "literal components (pca_model.py) to 16 of 64 dims — the "
        "dimensionality-compression ANN tier (4x cheaper pair scoring, "
        "64 bytes/vector materialized at scale)",
    ),
    "knn_bruteforce": QuerySpec(
        _emb(lambda df: similarity.knn_bruteforce(df, 10)),
        _knn_sql("exact"),
    ),
    "lsh_buckets": QuerySpec(
        _emb(similarity.lsh_buckets),
        f"""
        SELECT {_bucket_sql(_EMB_SQL, _PLANES)} AS bucket,
               count(*) AS n_vectors
        FROM embeddings GROUP BY 1 ORDER BY bucket
        """,
    ),
    "knn_lsh": QuerySpec(
        _emb(lambda df: similarity.knn_lsh(df, 10)),
        _knn_sql("lsh"),
    ),
    "ivf_histogram": QuerySpec(
        _emb(similarity.ivf_histogram),
        f"""{_ivf_assigned_cte()}
        SELECT centroid_id, count(*) AS n_vectors
        FROM assigned GROUP BY centroid_id ORDER BY centroid_id
        """,
    ),
    "knn_ivf": QuerySpec(
        _emb(lambda df: similarity.knn_ivf(df, 10)),
        _knn_sql("ivf"),
    ),
    "ivf_index_maintenance": QuerySpec(
        _emb(similarity.ivf_index_maintenance),
        # refit fraction + drift quantization are f-string-derived from
        # the similarity.py constants the operator uses.
        f"""{_ivf_assigned_cte()}, marked AS (
            SELECT centroid_id, (vec_id % 10 >= 8) AS is_new, emb FROM assigned
        ), q AS (
            SELECT centroid_id, is_new, u.pos AS pos, u.q AS q FROM (
                SELECT centroid_id, is_new,
                       unnest(list_transform(range(1, len(emb) + 1),
                              i -> struct_pack(pos := i,
                                   q := {_q_sql('emb[CAST(i AS INTEGER)]')}))) AS u
                FROM marked
            )
        ), per AS (
            SELECT centroid_id, pos, CAST(sum(q) AS BIGINT) AS s,
                   count(*) FILTER (WHERE NOT is_new) AS nb,
                   count(*) FILTER (WHERE is_new) AS nn
            FROM q GROUP BY 1, 2
        ), final AS (
            SELECT centroid_id,
                   list_transform(list(s ORDER BY pos), v -> CAST(v AS DOUBLE)) AS vec,
                   CAST(max(CASE WHEN pos = 1 THEN nb END) AS BIGINT) AS n_before,
                   CAST(max(CASE WHEN pos = 1 THEN nn END) AS BIGINT) AS n_new
            FROM per GROUP BY centroid_id
        ), cents AS (
            {" UNION ALL ".join(f"SELECT {i} AS centroid_id, {_plane_literal(c)} AS cvec" for i, c in enumerate(_CENTROIDS))}
        )
        SELECT CAST(f.centroid_id AS INTEGER) AS centroid_id,
               n_before, n_new, n_before + n_new AS n_after,
               CASE WHEN n_before > 0 THEN (n_new * 10000) // n_before END AS growth_bp,
               {_cosine_sql('f.vec', 'c.cvec')} AS drift_cos,
               (n_new * {similarity.IVF_REFIT_GROWTH[1]}
                >= n_before * {similarity.IVF_REFIT_GROWTH[0]}) AS refit_needed
        FROM final f JOIN cents c ON f.centroid_id = c.centroid_id
        """,
        "IVF index lifecycle under ingest: per-list growth, post-ingest "
        "centroid drift on exact integer micro-unit sums, and an integer "
        "cross-multiplied refit decision — one pass over the assignment "
        "stream (membership tallies ride the pos-0 rows, so the 16x64-dot "
        "scoring subtree is never cloned)",
    ),
    "kmeans_refit_distributed": QuerySpec(
        _emb(similarity.kmeans_refit_distributed),
        _dkm_sql(),
        "Distributed coarse-quantizer refit (r08 verdict #2): Lloyd "
        "rounds of spherical k-means executed entirely as Spark "
        "aggregates — full-corpus assignment against the broadcast "
        "k-row centroid state, exact integer micro-unit sums per "
        "(centroid, pos), renormalize, repeat; retires the ANN "
        "family's driver-side sample-fit ceiling (kmeans_fit's assert "
        "points here). Output pins the refit vectors via integer "
        "checksums + init-vs-refit cosine",
    ),
    "kmeans_refit_eval": QuerySpec(
        _emb(similarity.kmeans_refit_eval),
        _dkm_eval_sql(),
        "The distributed refit's QUALITY eval — the swap decision: "
        "per-vector assigned-centroid cosine under the shipped init "
        "model vs the refit model (one pass over the quantized corpus, "
        "both models riding along), quantized to integer basis points "
        "and summed exactly per refit cluster; refit_improves is an "
        "integer compare of two exact sums over the same vector set. "
        "Completes the fit -> eval -> swap lifecycle (the ann_recall "
        "pattern for the coarse quantizer)",
    ),
    "semdedup_derived_k": QuerySpec(
        _emb(similarity.semdedup_derived_k),
        _sdk_sql(),
        "SemDeDup at the recipe's true shape (r09 verdict #1): k = "
        "ivf_k_for(N) centroids fit DISTRIBUTEDLY (data-seeded Lloyd "
        "rounds — the kmeans_refit_distributed engine) with "
        "BUCKET-BLOCKED assignment (plane count scales with k so "
        "E[centroids/bucket] <= 4; Hamming<=1 candidate argmax + exact "
        "fallback), then the cluster-blocked pair dedup with "
        "E[cluster] ~ 32 constant at any corpus size — the composition "
        "that retires the fixed-k quadratic ceiling semdedup measured "
        "at sf3.0 (8.5x -> 2.1x wall on 3x data); tau threshold as an "
        "integer cross-multiply on exact BIGINT dots",
    ),
    "embedding_near_dup_eval": QuerySpec(
        _emb(similarity.embedding_near_dup_eval),
        _ndd_eval_sql(),
        "the capped near-dup contract's recall harness (the ann_recall "
        "convention — every approximate tier ships its eval): for each "
        "KMV-sample query, exact top-cap partners (full-corpus scan, "
        "same integer arithmetic, no buckets/rep cap) vs the shipped "
        "query's partner list; per-query n_true/n_hit/recall with the "
        "zero-partner grid restore; found side re-derived from the "
        "SAME _ndd_ctes chain (eval-reuse rule)",
    ),
    "semdedup_ingest_audit": QuerySpec(
        _emb(similarity.semdedup_ingest_audit),
        _sdk_ingest_sql(),
        "the streaming semdedup ingest twin's batch core, externally "
        "hash-verified: derived-k model fit on the STANDING split "
        "(vec_id%10<8, the ingest convention — same _sdk_fit the "
        "serving store builds from), ingest split blocked-assigned "
        "through it, dropped iff ANY standing same-cluster member is "
        "within tau (integer cross-multiply, zero-norm guard — same "
        "_sdk_admit the foreachBatch loop runs); per-cluster ingest "
        "audit; cross-ingest dedup deferred to the recluster cadence",
    ),
    "knn_ivf_refit": QuerySpec(
        _emb(lambda df: similarity.knn_ivf_refit(df, 10)),
        _ivf_refit_sql(),
        "IVF search serving the REFIT model — the swap executed: "
        "knn_ivf's probe/re-rank shape with corpus assignment and "
        "query probe both argmaxing the kmeans_refit_distributed "
        "rolled state (exact BIGINT dots, ties -> higher cid); "
        "completes fit -> eval -> swap -> serve for the coarse "
        "quantizer lifecycle",
    ),
    "knn_ivf_multiprobe": QuerySpec(
        _emb(lambda df: similarity.knn_ivf_multiprobe(df, 10, 2)),
        _knn_sql("ivf_mp2"),
        "IVF nprobe=2: disjoint inverted lists, no candidate dedup needed",
    ),
    "nn_descent_knn_graph": QuerySpec(
        _emb(similarity.nn_descent_knn_graph),
        (lambda chain: f"""{chain[0]}
        SELECT src AS vec_id, dst AS nbr_id, cos_sim, rnk
        FROM {chain[1]} ORDER BY vec_id, rnk
        """)(_nnd_ctes()),
        "Graph-based ANN tier: whole-corpus approximate k-NN graph via "
        "multiprobe-LSH-seeded NN-Descent (WWW'11) — bounded local joins only "
        "(<= k forward + cos-capped <= k reverse neighbors per center), "
        "per-round edge materialization, exact cosine re-score of the "
        "DISTINCT candidate set; the batch artifact serving indexes are "
        "built from",
    ),
    "nn_descent_recall": QuerySpec(
        _emb(similarity.nn_descent_recall),
        (lambda chain: f"""{chain[0]}, {_qids_cte()}, q AS (
            SELECT vec_id AS q_id, emb AS q_emb FROM v WHERE {_QFILTER}
        ), xscored AS (
            SELECT q_id, v.vec_id, {_cosine_sql('q_emb', 'v.emb')} AS cos_sim
            FROM q JOIN v ON q_id <> v.vec_id
        ), exact AS (
            SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                           ORDER BY cos_sim DESC, vec_id) AS rnk
                FROM xscored) r WHERE rnk <= {similarity.NND_K}
        ), gpairs AS (
            SELECT src AS q_id, dst AS vec_id FROM {chain[1]}
            WHERE src IN (SELECT q_id FROM qids)
        ), hits AS (
            SELECT q_id, CAST(count(*) AS BIGINT) AS n_hit
            FROM exact JOIN gpairs USING (q_id, vec_id) GROUP BY q_id
        )
        SELECT qids.q_id,
               CAST(coalesce(n_hit, 0) AS BIGINT) AS n_hit,
               CAST(coalesce(n_hit, 0) * 10000 // {similarity.NND_K} AS BIGINT) AS recall_bp
        FROM qids LEFT JOIN hits USING (q_id) ORDER BY q_id
        """)(_nnd_ctes()),
        "NN-Descent graph quality vs exact top-k on the KMV query cap: "
        "integer recall basis points (the ann_recall companion for the "
        "graph tier; ground truth bounded at cap * N like knn_bruteforce)",
    ),
    "knn_graph_search": QuerySpec(
        _emb(similarity.knn_graph_search),
        _nnd_search_sql(),
        "The graph tier's SERVING path: greedy beam search over the "
        "NN-Descent graph (entry = the query's Hamming<=1 probe-bucket "
        "reps; per hop expand beam through out-edges, union the beam, "
        "dedup, exact re-score, keep top-beam; monotone by "
        "construction). Per-query work after the build is "
        "O(beam*k*hops) scored candidates, not O(N) — replica recall@10 "
        "97% at sf0.01 / 79% at sf0.1, ABOVE the graph's edge recall "
        "because the beam explores past direct edges",
    ),
    "knn_graph_ingest": QuerySpec(
        _emb(similarity.knn_graph_ingest),
        _gi_sql(),
        "Graph-index maintenance under ingest (r08 verdict #3 — the "
        "ivf_index_maintenance analog for the NN-Descent tier): the "
        "standing graph is built over vec_id % 10 < 8; the new split "
        "arrives as deterministic micro-batches admitted via the "
        "serving tier's beam search (the HNSW insertion primitive — "
        "per-vector work is O(beam*k*hops), batch-proportional, never "
        "corpus-proportional); per batch: edges created, quantized "
        "best-cos mass, reverse-edge pressure vs the standing worst "
        "edges, capped-eval admission recall, cumulative growth + "
        "integer cross-multiplied rebuild decision (both branches live "
        "at every SF)",
    ),
    "semantic_decontaminate": QuerySpec(
        _emb(similarity.semantic_decontaminate),
        (lambda tau, probes: f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, {_EMB_SQL} AS emb,
                   {_bucket_sql(_EMB_SQL, _PLANES)} AS bucket
            FROM embeddings
        ), ep AS (
            SELECT vec_id AS e_id, emb AS e_emb,
                   unnest([{probes}]) AS pbucket
            FROM v WHERE vec_id % 10 >= 8
        ), scored AS (
            SELECT t.vec_id, {_cosine_sql('ep.e_emb', 't.emb')} AS cs
            FROM ep JOIN v t ON t.bucket = ep.pbucket AND t.vec_id % 10 < 8
        )
        SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
               max(cs) AS max_cos
        FROM scored WHERE cs >= {tau!r}
        GROUP BY vec_id
        ORDER BY max_cos DESC, vec_id LIMIT {similarity.DECON_TOP_K}
        """)(
            float(similarity.DECON_TAU),
            ", ".join(
                ["bucket"]
                + [f"xor(bucket, {1 << p})" for p in range(len(_PLANES))]
            ),
        ),
        "Embedding-space decontamination — the semantic twin of the "
        "lexical decontaminate: train vectors flagged where cosine to "
        "ANY eval-split vector reaches tau, via the Hamming<=1 "
        "multiprobe bucket equi-join (never all-pairs; each pair "
        "scores at most once by construction); reports the top-K "
        "strongest-evidence rows (TakeOrdered — O(K) at any corpus "
        "size; a fixed bar flags ~all of a clustered corpus)",
    ),
    "semantic_decontaminate_fixed": QuerySpec(
        _emb(similarity.semantic_decontaminate_fixed),
        (lambda tau, probes: f"""
        WITH v AS MATERIALIZED (
            SELECT vec_id, {_EMB_SQL} AS emb,
                   {_bucket_sql(_EMB_SQL, _PLANES)} AS bucket
            FROM embeddings
        ), ec AS MATERIALIZED (
            SELECT e_id, e_emb, e_bucket FROM (
                SELECT vec_id AS e_id, emb AS e_emb, bucket AS e_bucket,
                       row_number() OVER (ORDER BY {h32_sql('CAST(vec_id AS VARCHAR)')}, vec_id) AS rn
                FROM v WHERE vec_id % 10 >= 8
            ) r WHERE rn <= {similarity.DECON_EVAL_CAP}
        ), ep AS (
            SELECT e_id, e_emb, unnest([{probes}]) AS pbucket
            FROM ec
        ), scored AS (
            SELECT t.vec_id, {_cosine_sql('ep.e_emb', 't.emb')} AS cs
            FROM ep JOIN v t ON t.bucket = ep.pbucket AND t.vec_id % 10 < 8
        )
        SELECT vec_id, CAST(count(*) AS BIGINT) AS n_eval_hits,
               max(cs) AS max_cos
        FROM scored WHERE cs >= {tau!r}
        GROUP BY vec_id
        ORDER BY max_cos DESC, vec_id LIMIT {similarity.DECON_TOP_K}
        """)(
            float(similarity.DECON_TAU),
            ", ".join(
                ["e_bucket"]
                + [f"xor(e_bucket, {1 << p})" for p in range(len(_PLANES))]
            ),
        ),
        "Decontamination under the production contract (r09 verdict "
        "#4): the eval side is a FIXED bounded artifact (eval_cap "
        "h32-smallest eval-split vectors — the KMV discipline) instead "
        "of a corpus fraction, so the probe frame is O(cap) and always "
        "broadcasts; the bucket equi-join + per-train aggregate are "
        "LINEAR in the corpus — the sf3.0 probe measures the "
        "linearity the %10-split fixture could not show",
    ),
    "array_functions_showcase": QuerySpec(
        _emb(similarity.array_functions_showcase),
        f"""
        SELECT vec_id,
               CAST(len(embedding) AS INTEGER) AS dim,
               embedding[1] AS first_val,
               list_aggregate(embedding, 'min') AS min_val,
               list_aggregate(embedding, 'max') AS max_val,
               sqrt(list_dot_product({_EMB_SQL}, {_EMB_SQL})) AS l2_norm,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
        FROM embeddings
        """,
    ),
    "embedding_near_dup": QuerySpec(
        _emb(lambda df: similarity.embedding_near_dup_capped(df, 0.30)),
        f"""
        WITH v AS (
            SELECT vec_id, {_EMB_SQL} AS emb,
                   {_bucket_sql(_EMB_SQL, _PLANES)} AS bucket
            FROM embeddings
        )
        SELECT vec_a, vec_b, cos_sim FROM (
            SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                   {_cosine_sql('a.emb', 'b.emb')} AS cos_sim
            FROM v a JOIN v b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
            WHERE {_cosine_sql('a.emb', 'b.emb')} >= 0.30
        ) pairs
        ORDER BY cos_sim DESC, vec_a, vec_b
        LIMIT {similarity.NEARDUP_LEGACY_CAP}
        """,
        "legacy fixed-plane near-dup DEMOTED to a bounded contract "
        "(r11 verdict #1): same buckets, same equi-join, same exact "
        "cosine chain, but the output is the top-cap pairs by "
        "(cos_sim DESC, vec_a, vec_b) — <= 1000 rows at ANY scale "
        "(TakeOrderedAndProject / DuckDB top-N), retiring the "
        "registry's last unbounded ~N^2/64 output shape (51 M rows "
        "at sf3.0). At sf<=0.01 the cap never binds, so the green "
        "r11 values carry over unchanged; the production-shaped pass "
        "is embedding_near_dup_derived",
    ),
    "embedding_near_dup_derived": QuerySpec(
        _emb(similarity.embedding_near_dup_derived),
        _ndd_sql(),
        "embedding_near_dup made production-shaped (r10 verdict #1): "
        "plane count DERIVED from the corpus (sdk_planes_for(N) — "
        "E[vectors/bucket] <= 32 at any N where the fixed 6-plane "
        "query's grew N/64 to 51 M pair rows at sf3.0), per-bucket "
        "h32-capped reps (candidates <= 32N at ANY bucket skew — "
        "planes cannot split a tight cluster; the probe measured max "
        "bucket 3068 vs E=29) and a capped directed partner contract "
        "(top-4 by cosine — output <= 4N rows at any scale; measured "
        "1.35x wall on 3x data); tau threshold as an integer "
        "cross-multiply on exact BIGINT dots with the zero-norm "
        "guard, cos_sim one exact double division",
    ),
    # ---- events / time series ----
    "tumbling_window": QuerySpec(
        _tables(events.tumbling_window),
        f"""
        SELECT date_trunc('hour', ts) AS window_start, event_type,
               count(*) AS n_events,
               {_stable_sum(_money('value'))} AS sum_value,
               {_stable_avg(_money('value'))} AS avg_value
        FROM events GROUP BY 1, 2 ORDER BY window_start, event_type
        """,
    ),
    "sliding_window": QuerySpec(
        _tables(events.sliding_window),
        f"""
        SELECT window_start, count(*) AS n_events, {_stable_sum(_money('value'))} AS sum_value FROM (
            SELECT time_bucket(INTERVAL 30 MINUTE, ts) - CASE WHEN k = 1 THEN INTERVAL 30 MINUTE ELSE INTERVAL 0 MINUTE END AS window_start,
                   value
            FROM events, (VALUES (0), (1)) offs(k)
        ) t GROUP BY window_start ORDER BY window_start
        """,
    ),
    "sessionize": QuerySpec(
        _tables(events.sessionize),
        f"""
        WITH flagged AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR floor(epoch(ts)) - floor(epoch(lag(ts) OVER w)) > {events.SESSION_GAP_MIN * 60}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
            FROM flagged
        )
        SELECT user_id, session_idx,
               count(*) AS n_events,
               min(ts) AS session_start,
               max(ts) AS session_end,
               CAST(floor(epoch(max(ts))) - floor(epoch(min(ts))) AS BIGINT) AS duration_sec,
               {_stable_sum(_money('value'))} AS sum_value
        FROM sess GROUP BY user_id, session_idx ORDER BY user_id, session_idx
        """,
    ),
    "session_window_stats": QuerySpec(
        _tables(events.session_window_stats),
        f"""
        WITH flagged AS (
            -- Native session_window merges TOUCHING [ts, ts+gap)
            -- intervals (pinned in test_event_analysis), so diff > gap
            -- starts a session — same predicate as sessionize — but on
            -- EXACT microseconds, not the floored seconds
            -- unix_timestamp gives the lag-cumsum twin.
            SELECT user_id, ts, event_id, value,
                   CASE WHEN lag(ts) OVER w IS NULL
                             OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > {events.SESSION_GAP_MIN * 60 * 1_000_000}
                        THEN 1 ELSE 0 END AS is_new
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), sess AS (
            SELECT user_id, ts, value,
                   sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
            FROM flagged
        )
        SELECT user_id,
               min(ts) AS session_start,
               max(ts) + INTERVAL {events.SESSION_GAP_MIN} MINUTE AS session_end,
               count(*) AS n_events,
               {_stable_sum(_money('value'))} AS sum_value
        FROM sess GROUP BY user_id, session_idx
        ORDER BY user_id, session_start
        """,
        "Spark-native session_window (one exchange, no window functions) vs "
        "the lag-cumsum chain on exact-microsecond gaps (oracle)",
    ),
    "json_props_agg": QuerySpec(
        _tables(events.json_props_agg),
        # json_valid guard: DuckDB's json_extract_string THROWS on
        # malformed JSON where Spark's get_json_object returns NULL
        # (found by the random-input JSON probe); the guard aligns the
        # engines on bad rows and is a no-op on valid ones.
        """
        SELECT event_type, count(*) AS n_events,
               CAST(sum(CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS BIGINT) AS sum_k,
               max(CAST(CASE WHEN json_valid(props) THEN json_extract_string(props, '$.k') END AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
        """,
    ),
    "asof_last_click_before_purchase": QuerySpec(
        _tables(events.asof_last_click_before_purchase),
        """
        WITH enriched AS (
            SELECT user_id, event_id, ts, event_type,
                   last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
                       OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts
            FROM events
        )
        SELECT user_id, event_id, ts, last_click_ts,
               CAST(floor(epoch(ts)) - floor(epoch(last_click_ts)) AS BIGINT) AS secs_since_click
        FROM enriched WHERE event_type = 'purchase'
        ORDER BY user_id, event_id
        """,
    ),
    "multi_resolution_rollup": QuerySpec(
        _tables(events.multi_resolution_rollup),
        f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
                   count(*) AS n_events, sum({_money('value')}) AS sum_value_d
            FROM events GROUP BY 1, 2
        ), daily AS (
            SELECT date_trunc('day', bucket_ts) AS bucket_ts, event_type,
                   CAST(sum(n_events) AS BIGINT) AS n_events, sum(sum_value_d) AS sum_value_d
            FROM hourly GROUP BY 1, 2
        ), unioned AS (
            SELECT 'hour' AS resolution, bucket_ts, event_type, n_events, sum_value_d FROM hourly
            UNION ALL
            SELECT 'day', bucket_ts, event_type, n_events, sum_value_d FROM daily
        )
        SELECT resolution, bucket_ts, event_type, n_events,
               CAST(sum_value_d AS DOUBLE) AS sum_value,
               CAST(sum_value_d AS DOUBLE) / n_events AS avg_value
        FROM unioned ORDER BY resolution, bucket_ts, event_type
        """,
    ),
    "kmv_distinct_users": QuerySpec(
        _tables(events.kmv_distinct_users),
        _kmv_sql(),
    ),
    "theta_daily_overlap": QuerySpec(
        _tables(events.theta_daily_overlap),
        _theta_sql(),
    ),
    "cms_word_counts": QuerySpec(
        _docs(lambda df: ta.cms_word_counts(df, w=ta.CMS_W_AUDIT)),
        None,  # replaced below by _cms_sql() — parameter-derived twin
        "Count-Min Sketch + accuracy audit: d=4 rows from one md5 via "
        "the 4-lane scheme, integer counters built from the AGGREGATED "
        "word counts (vocabulary-sized after the one heavy agg); "
        "min-over-rows estimates for the exact top-20 — all integer, "
        "oracle reproduces the sketch bit-for-bit (w=CMS_W_AUDIT so "
        "collisions non-vacuously exercise the min)",
    ),
    "hll_distinct_users": QuerySpec(
        _tables(events.hll_distinct_users),
        None,  # replaced below by _hll_sql() — parameter-derived twin
        "HyperLogLog registers (m=64) per event_type: exact-integer "
        "indicator sum, one IEEE division for the estimate — "
        "deterministic cross-engine (no ln/pow in the oracled form)",
    ),
    "hll_rollup_merge": QuerySpec(
        _tables(events.hll_rollup_merge),
        None,  # replaced below by _hll_rollup_sql() — parameter-derived twin
        "sketch mergeability as a rollup: day-grain HLL registers roll "
        "up to weeks by register max alone (no raw re-scan); the "
        "direct-from-raw week estimate is emitted alongside so the "
        "oracle hash pins merged == direct bit-for-bit",
    ),
    "range_window_revenue": QuerySpec(
        _tables(events.range_window_revenue),
        f"""
        SELECT user_id, event_id, ts,
               CAST(sum({_money('value')}) OVER (
                   PARTITION BY user_id ORDER BY floor(epoch(ts))
                   RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW) AS DOUBLE) AS trailing_value
        FROM events ORDER BY user_id, event_id
        """,
        "time-RANGE window frame (peers by event-time distance, not row position)",
    ),
    "promo_revenue_ratio": QuerySpec(
        _tables(relational.promo_revenue_ratio),
        f"""
        SELECT date_trunc('month', l_shipdate) AS ship_month,
               100 * CAST(sum(CASE WHEN p_type = 'PROMO' THEN {DISC_PRICE_DEC}
                                   ELSE CAST(0 AS DECIMAL(17,4)) END) AS DOUBLE)
                   / CAST(sum({DISC_PRICE_DEC}) AS DOUBLE) AS promo_pct,
               {_stable_sum(DISC_PRICE_DEC)} AS total_revenue
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1 ORDER BY ship_month
        """,
        "TPC-H Q14 shape: conditional decimal sums, one pass",
    ),
    "disjunctive_filter_revenue": QuerySpec(
        _tables(relational.disjunctive_filter_revenue),
        f"""
        SELECT p_brand,
               {_stable_sum(DISC_PRICE_DEC)} AS revenue,
               count(*) AS n_items
        FROM lineitem JOIN part ON l_partkey = p_partkey
        WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15 AND l_quantity BETWEEN 1 AND 20)
           OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 30 AND l_quantity BETWEEN 10 AND 30)
           OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 40)
        GROUP BY p_brand ORDER BY p_brand
        """,
        "TPC-H Q19 shape: disjunctive predicate blocks as one residual filter",
    ),
    "priority_line_counts": QuerySpec(
        _tables(relational.priority_line_counts),
        """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority_lines,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority_lines
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "TPC-H Q12 shape: conditional counts across the fact-fact join",
    ),
    "null_handling_showcase": QuerySpec(
        _tables(relational.null_handling_showcase),
        f"""
        SELECT c_custkey,
               CAST(count(o_orderkey) AS BIGINT) AS n_orders,
               COALESCE({_stable_sum(_money('o_totalprice'))}, 0.0) AS total_spend,
               NULLIF(CAST(count(o_orderkey) AS BIGINT), 0) AS n_orders_or_null,
               CASE WHEN max(o_orderdate) IS NULL THEN 'never-ordered' ELSE 'active' END AS status
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_custkey ORDER BY c_custkey
        """,
        "NULL semantics over a left join's missing side (coalesce/nullif/is-null)",
    ),
    "stats_battery": QuerySpec(
        _tables(relational.stats_battery),
        f"""
        WITH sums AS (
            SELECT l_returnflag,
                   count(*) AS n,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sx,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sxx,
                   CAST(sum({_money('l_extendedprice')}) AS DOUBLE) AS sy,
                   CAST(sum({_money('l_extendedprice')} * {_money('l_extendedprice')}) AS DOUBLE) AS syy,
                   CAST(sum(CAST(l_quantity AS DECIMAL(12,2)) * {_money('l_extendedprice')}) AS DOUBLE) AS sxy
            FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               n AS n_rows,
               greatest((sxx - sx * sx / n) / (n - 1), 0.0) AS var_qty,
               sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) AS stddev_qty,
               greatest((syy - sy * sy / n) / (n - 1), 0.0) AS var_price,
               sqrt(greatest((syy - sy * sy / n) / (n - 1), 0.0)) AS stddev_price,
               (sxy - sx * sy / n) / (n - 1) AS covar_qty_price,
               ((sxy - sx * sy / n) / (n - 1))
                   / NULLIF(sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)) * sqrt(greatest((syy - sy * sy / n) / (n - 1), 0.0)), 0) AS corr_qty_price
        FROM sums ORDER BY l_returnflag
        """,
        "second moments from exact decimal power sums (deterministic var/stddev/cov/corr)",
    ),
    "fuzzy_nation_pairs": QuerySpec(
        # max_dist=1 calibrated to the synthetic NATION_<i> names (all
        # pairs are within distance 2, so 1 is the selective cut); the
        # API default (4) is the production-sensible cut for real names.
        _tables(lambda t: relational.fuzzy_nation_pairs(t, 1)),
        """
        SELECT a.n_name AS name_a, b.n_name AS name_b,
               CAST(levenshtein(a.n_name, b.n_name) AS INTEGER) AS edit_dist
        FROM nation a JOIN nation b ON a.n_name < b.n_name
        WHERE levenshtein(a.n_name, b.n_name) <= 1
        ORDER BY name_a, name_b
        """,
        "fuzzy string matching over a bounded dim (blocking notes in the docstring)",
    ),
    "stratified_sample_summary": QuerySpec(
        _docs(sampling.stratified_sample_summary),
        f"""
        WITH flagged AS (
            SELECT lang, n_chars,
                   CASE WHEN {h32_sql("CAST(doc_id AS VARCHAR)")} % 100 < 10 THEN 1 ELSE 0 END AS s
            FROM documents
        )
        SELECT lang, count(*) AS n_docs,
               CAST(sum(s) AS BIGINT) AS n_sampled,
               CAST(sum(CASE WHEN s = 1 THEN n_chars ELSE 0 END) AS BIGINT) AS sampled_chars,
               CAST(sum(s) AS DOUBLE) / count(*) AS realized_rate
        FROM flagged GROUP BY lang ORDER BY lang
        """,
        "deterministic hash-systematic sampling: the oracle reproduces the exact sample",
    ),
    "weighted_sample": QuerySpec(
        _docs(sampling.weighted_sample),
        f"""
        WITH scored AS (
            SELECT doc_id, lang,
                   CAST(len({TOKENS_SQL}) AS INTEGER) AS n_tokens,
                   round(ln(({h32_sql("(CAST(doc_id AS VARCHAR) || '|ws')")} + 1) / 4294967296.0)
                         / len({TOKENS_SQL}), 9) AS es_key
            FROM documents WHERE len({TOKENS_SQL}) > 0
        ), top AS (
            SELECT doc_id, lang, n_tokens, es_key
            FROM scored ORDER BY es_key DESC, doc_id LIMIT {sampling.WEIGHTED_SAMPLE_K}
        )
        SELECT doc_id, lang, n_tokens,
               CAST(row_number() OVER (ORDER BY es_key DESC, doc_id) AS INTEGER) AS rnk
        FROM top ORDER BY doc_id
        """,
        "Efraimidis-Spirakis weighted sampling WITHOUT replacement: "
        "deterministic per-doc uniform from the portable hash, key "
        "ln(u)/w rounded for rank portability, TakeOrdered top-k — "
        "P(selection) proportional to token mass, no global sort",
    ),
    "funnel_conversion": QuerySpec(
        _tables(events.funnel_conversion),
        """
        WITH per_user AS (
            SELECT user_id,
                   min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
                   max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
            FROM events GROUP BY user_id
        )
        SELECT count(*) AS n_users,
               count(first_click) AS n_clicked,
               CAST(sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_converted,
               CAST(sum(CASE WHEN first_click IS NOT NULL AND last_purchase > first_click
                             THEN 1 ELSE 0 END) AS DOUBLE) / NULLIF(count(first_click), 0) AS click_to_purchase_rate
        FROM per_user
        """,
        "funnel: purchase strictly after first click (ordering constraint, no self-join)",
    ),
    "cohort_retention": QuerySpec(
        _tables(events.cohort_retention),
        """
        WITH first_day AS (
            SELECT user_id, date_trunc('day', min(ts)) AS cohort_day
            FROM events GROUP BY user_id
        ), active AS (
            SELECT DISTINCT user_id, date_trunc('day', ts) AS active_day FROM events
        )
        SELECT cohort_day,
               CAST(datediff('day', cohort_day, active_day) AS INTEGER) AS day_offset,
               count(*) AS n_active_users
        FROM active JOIN first_day USING (user_id)
        GROUP BY 1, 2 ORDER BY cohort_day, day_offset
        """,
        "cohort retention matrix (first-seen day x activity offset)",
    ),
    "out_of_order_stats": QuerySpec(
        _tables(events.out_of_order_stats),
        """
        WITH flagged AS (
            SELECT user_id,
                   CASE WHEN prev_max IS NOT NULL AND ts < prev_max
                        THEN CAST(floor(epoch(prev_max)) - floor(epoch(ts)) AS BIGINT)
                   END AS late_secs
            FROM (
                SELECT user_id, ts,
                       max(ts) OVER (PARTITION BY user_id ORDER BY event_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
                FROM events
            ) base
        )
        SELECT user_id, count(*) AS n_events,
               count(late_secs) AS n_out_of_order,
               max(late_secs) AS max_late_secs
        FROM flagged GROUP BY user_id ORDER BY user_id
        """,
    ),
    "equi_depth_histogram": QuerySpec(
        # Fitted literal cutpoints injected IDENTICALLY into both sides
        # (histogram_model.py provenance): no cross-engine percentile
        # arithmetic left to diverge. The cuts=None dynamic path remains
        # the fit operator.
        _tables(lambda t: events.equi_depth_histogram(t, cuts=EQUI_DEPTH_CUTS)),
        f"""
        SELECT CAST(len(list_filter([{", ".join(repr(c) for c in EQUI_DEPTH_CUTS)}],
                                    c -> value > c)) AS INTEGER) AS bucket,
               count(*) AS n_events,
               min(value) AS lo,
               max(value) AS hi
        FROM events
        GROUP BY 1 ORDER BY bucket
        """,
        "equal-count buckets by fitted (ANALYZE-style) cutpoint literals shared with the oracle",
    ),
    "value_histogram": QuerySpec(
        _tables(events.value_histogram),
        """
        SELECT CAST(floor(value / 50) * 50 AS DOUBLE) AS bucket_lo,
               count(*) AS n_events
        FROM events GROUP BY 1 ORDER BY bucket_lo
        """,
    ),
    "event_paths": QuerySpec(
        _tables(events.event_paths),
        """
        WITH ranked AS (
            SELECT user_id, ts, event_id, event_type,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS rn
            FROM events
        ), paths AS (
            SELECT user_id,
                   string_agg(event_type, '>' ORDER BY ts, event_id) AS path,
                   CAST(count(*) AS INTEGER) AS path_len
            FROM ranked WHERE rn <= 8 GROUP BY user_id
        )
        SELECT path, path_len, CAST(count(*) AS INTEGER) AS n_users
        FROM paths GROUP BY path, path_len
        """,
        "common-journeys path analysis: ordered per-user event-type "
        "concat ((ts, event_id) total order) — engine-portable ordered "
        "string agg",
    ),
    "hourly_percentile_bands": QuerySpec(
        _tables(events.hourly_percentile_bands),
        """
        SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
               CAST(count(*) AS INTEGER) AS n_events,
               quantile_cont(value, 0.5) AS p50,
               quantile_cont(value, 0.95) AS p95,
               quantile_cont(value, 0.99) AS p99
        FROM events GROUP BY 1, 2
        """,
        "SLO percentile bands per (hour, type): exact interpolated "
        "percentiles (swap percentile_approx at 100 TB)",
    ),
    "zorder_locality": QuerySpec(
        _tables(events.zorder_locality),
        f"""
        WITH raw AS (
            SELECT user_id AS u,
                   CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h
            FROM events
        ), bounds AS (
            SELECT min(u) AS umin, max(u) AS umax,
                   min(h) AS hmin, max(h) AS hmax
            FROM raw
        ), base AS (
            SELECT {events._normalize16_sql('u', 'umin', 'umax', dialect='duck')} AS ub,
                   {events._normalize16_sql('h', 'hmin', 'hmax', dialect='duck')} AS hb
            FROM raw CROSS JOIN bounds
        ), tagged AS (
            SELECT ub, hb,
                   ({events._spread_bits_sql('ub')}
                    | ({events._spread_bits_sql('hb')} << 1)) AS z
            FROM base
        ), per_file AS (
            SELECT layout, file_id,
                   count(*) AS n_rows,
                   count(DISTINCT ub) AS n_users,
                   count(DISTINCT hb) AS n_hours
            FROM (
                SELECT 'zorder' AS layout, z // 16777216 AS file_id, ub, hb
                FROM tagged
                UNION ALL
                SELECT 'time' AS layout, hb // 256 AS file_id, ub, hb
                FROM tagged
            ) GROUP BY layout, file_id
        )
        SELECT layout,
               CAST(count(*) AS INTEGER) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(n_users) AS DOUBLE) / count(*) AS avg_users_per_file,
               CAST(sum(n_hours) AS DOUBLE) / count(*) AS avg_hours_per_file
        FROM per_file GROUP BY layout
        """,
        "Morton-curve layout evaluation: z-range files bound BOTH the "
        "user and hour spans (the data-skipping property), quantified "
        "against a same-file-count time-only layout",
    ),
    "gapfill_hourly": QuerySpec(
        _tables(events.gapfill_hourly),
        f"""
        WITH hourly AS (
            SELECT date_trunc('hour', ts) AS bucket_ts, event_type,
                   count(*) AS n_raw,
                   sum({_money('value')}) AS sum_dec
            FROM events GROUP BY 1, 2
        ), span AS (
            SELECT date_trunc('hour', min(ts)) AS h0,
                   date_trunc('hour', max(ts)) AS h1
            FROM events
        ), grid AS (
            SELECT event_type, bucket_ts
            FROM (SELECT DISTINCT event_type FROM events)
            CROSS JOIN (
                SELECT unnest(generate_series((SELECT h0 FROM span),
                                              (SELECT h1 FROM span),
                                              INTERVAL 1 HOUR)) AS bucket_ts
            )
        )
        SELECT g.bucket_ts, g.event_type,
               CAST(coalesce(h.n_raw, 0) AS INTEGER) AS n_events,
               CAST(coalesce(h.sum_dec, 0) AS DOUBLE) AS sum_value,
               h.n_raw IS NULL AS filled
        FROM grid g LEFT JOIN hourly h USING (bucket_ts, event_type)
        """,
        "TSDB gap-fill: generated dense (hour x type) grid left-joins the "
        "sparse aggregate; grid cardinality independent of event volume",
    ),
    "join_size_estimate": QuerySpec(
        _tables(relational.join_size_estimate),
        f"""
        WITH fa AS MATERIALIZED (
            SELECT l_orderkey AS key, CAST(count(*) AS BIGINT) AS f_a
            FROM lineitem GROUP BY 1
        ), fb AS MATERIALIZED (
            SELECT o_orderkey AS key, CAST(count(*) AS BIGINT) AS f_b
            FROM orders GROUP BY 1
        ), ska AS MATERIALIZED (
            SELECT key, f_a, {h32_sql('CAST(key AS VARCHAR)')} AS h
            FROM fa ORDER BY h, key LIMIT {relational.JOIN_SKETCH_K}
        ), skb AS MATERIALIZED (
            SELECT key, f_b, {h32_sql('CAST(key AS VARCHAR)')} AS h
            FROM fb ORDER BY h, key LIMIT {relational.JOIN_SKETCH_K}
        ), ta AS (
            SELECT CASE WHEN count(*) >= {relational.JOIN_SKETCH_K}
                        THEN max(h) ELSE 4294967296 END AS theta_a FROM ska
        ), tb AS (
            SELECT CASE WHEN count(*) >= {relational.JOIN_SKETCH_K}
                        THEN max(h) ELSE 4294967296 END AS theta_b FROM skb
        ), th AS (
            SELECT least(theta_a, theta_b) AS theta FROM ta CROSS JOIN tb
        ), sampled AS (
            SELECT count(*) AS n_common_sampled,
                   CAST(COALESCE(sum(f_a * f_b), 0) AS BIGINT) AS sampled_join_rows
            FROM ska JOIN skb USING (key) CROSS JOIN th
            WHERE ska.h < th.theta
        ), ex AS (
            SELECT CAST(sum(f_a * f_b) AS BIGINT) AS exact_join_rows
            FROM fa JOIN fb USING (key)
        ), counts AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM fa) AS n_keys_a,
                   (SELECT CAST(count(*) AS BIGINT) FROM fb) AS n_keys_b
        )
        SELECT n_keys_a, n_keys_b, theta, n_common_sampled, sampled_join_rows,
               sampled_join_rows * 4294967296.0 / theta AS est_join_rows,
               exact_join_rows
        FROM counts CROSS JOIN th CROSS JOIN sampled CROSS JOIN ex
        """,
        "sketch-based join cardinality estimate: correlated KMV key "
        "sampling (same hash both sides) over per-key frequency "
        "aggregates — the optimizer statistic that prices a fact-fact "
        "join before shuffling it; estimate is one double chain from "
        "exact integers, oracle-reproduced bit-for-bit",
    ),
    "referential_audit": QuerySpec(
        _tables(relational.referential_audit),
        "\nUNION ALL\n".join(
            f"""
        SELECT '{name}' AS relationship,
               (SELECT count(*) FROM {child}) AS n_child_rows,
               (SELECT count(DISTINCT {fk}) FROM {child}) AS n_distinct_fk,
               (SELECT count(*) FROM {child} c
                WHERE NOT EXISTS (SELECT 1 FROM {parent} p
                                  WHERE p.{pk} = c.{fk})) AS n_orphans
            """
            for name, child, fk, parent, pk in relational.FK_EDGES
        ),
        "referential-integrity audit over every FK edge (anti-join orphan "
        "counts); edges and SQL generated from the same FK_EDGES literal",
    ),
    "time_weighted_value": QuerySpec(
        _tables(events.time_weighted_value),
        f"""
        WITH seg AS (
            SELECT user_id,
                   {_money('value')} AS v_dec,
                   lead(floor(epoch(ts))) OVER (PARTITION BY user_id
                                                ORDER BY ts, event_id)
                   - floor(epoch(ts)) AS dt
            FROM events
        )
        SELECT user_id,
               CAST(count(*) AS INTEGER) AS n_intervals,
               CAST(sum(dt) AS BIGINT) AS span_sec,
               CAST(sum(v_dec * dt) AS DOUBLE)
               / NULLIF(CAST(sum(dt) AS BIGINT), 0) AS twa_value
        FROM seg WHERE dt IS NOT NULL
        GROUP BY user_id
        """,
        "time-weighted average over LOCF segments: integer-second "
        "weights x 2-decimal values = exact decimal sums, one exchange",
    ),
    "ohlc_bars": QuerySpec(
        _tables(events.ohlc_bars),
        f"""
        WITH flagged AS (
            SELECT date_trunc('hour', ts) AS bucket_ts, event_type, value,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                      ORDER BY ts, event_id) AS rn_first,
                   row_number() OVER (PARTITION BY date_trunc('hour', ts), event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn_last
            FROM events
        )
        SELECT bucket_ts, event_type,
               max(CASE WHEN rn_first = 1 THEN value END) AS open,
               max(value) AS high,
               min(value) AS low,
               max(CASE WHEN rn_last = 1 THEN value END) AS close,
               CAST(count(*) AS INTEGER) AS n_events,
               {_stable_sum('CAST(value AS DECIMAL(12,2))')} AS sum_value
        FROM flagged
        GROUP BY bucket_ts, event_type
        """,
        "hourly OHLC candlesticks: first/last by (ts, event_id) via "
        "row_number windows (portable tie semantics), partitioning "
        "reused by the same-keyed aggregation",
    ),
    "value_anomalies": QuerySpec(
        _tables(events.value_anomalies),
        f"""
        WITH s AS (
            SELECT event_id, user_id, event_type, value,
                   count(*) OVER w AS n,
                   CAST(sum({_money('value')}) OVER w AS DOUBLE) AS sx,
                   CAST(sum({_money('value')} * {_money('value')}) OVER w AS DOUBLE) AS sxx
            FROM events
            WINDOW w AS (PARTITION BY user_id)
        ), scored AS (
            SELECT event_id, user_id, event_type, value,
                   (value - sx / n)
                   / NULLIF(sqrt(greatest((sxx - sx * sx / n) / (n - 1), 0.0)), 0.0)
                   AS zscore
            FROM s WHERE n >= 2
        )
        SELECT event_id, user_id, event_type, value, zscore
        FROM scored WHERE abs(zscore) >= 2.0
        """,
        "per-user z-score outliers from exact decimal power sums as "
        "window aggregates — one user_id exchange, no join-back",
    ),
    "user_activity_stats": QuerySpec(
        _tables(events.user_activity_stats),
        f"""
        SELECT user_id, count(*) AS n_events,
               CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
               CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases,
               CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS n_errors,
               {_stable_sum(f"CASE WHEN event_type = 'purchase' THEN {_money('value')} ELSE CAST(0 AS DECIMAL(12,2)) END")} AS purchase_value,
               min(ts) AS first_seen, max(ts) AS last_seen
        FROM events GROUP BY user_id ORDER BY user_id
        """,
    ),
    # ---- curation pipeline (capstone composition) ----
    "curation_yield": QuerySpec(
        _docs(curation.curation_yield),
        f"""
        WITH {_curation_kept_ctes()}, totals AS (
            SELECT lang, count(*) AS n_docs_in FROM documents GROUP BY lang
        ), survived AS (
            SELECT lang, count(*) AS n_docs_kept,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM kept GROUP BY lang
        )
        SELECT t.lang, n_docs_in,
               COALESCE(n_docs_kept, 0) AS n_docs_kept,
               COALESCE(n_tokens_kept, 0) AS n_tokens_kept,
               COALESCE(n_docs_kept, 0) / n_docs_in AS keep_rate
        FROM totals t LEFT JOIN survived s ON t.lang = s.lang
        ORDER BY t.lang
        """,
        "capstone: quality -> language -> dedup -> yield accounting in one plan",
    ),
    "pack_sequences": QuerySpec(
        _docs(curation.pack_sequences),
        f"""
        WITH {_curation_kept_ctes()}, binned AS (
            SELECT lang, n_tokens,
                   CAST(floor(COALESCE(sum(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) / {curation.PACK_TOKEN_BUDGET}) AS BIGINT) AS bin
            FROM kept
        )
        SELECT lang, bin, count(*) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
               greatest(CAST(sum(n_tokens) AS BIGINT) - {curation.PACK_TOKEN_BUDGET}, 0) AS overshoot
        FROM binned GROUP BY lang, bin ORDER BY lang, bin
        """,
        "sequence packing: curated docs -> fixed-token-budget training bins (one-pass window cumsum)",
    ),
    "curation_yield_neardup": QuerySpec(
        _docs(curation.curation_yield_neardup),
        f"""
        WITH {_curation_kept_ctes()}, {_minhash_pairs_ctes(source="kept")}, pairs AS (
            SELECT DISTINCT l.doc_id AS doc_a, r.doc_id AS doc_b
            FROM banded l JOIN banded r
              ON l.band = r.band AND l.band_key = r.band_key AND l.doc_id < r.doc_id
        ), edges AS MATERIALIZED (
            SELECT doc_a AS src, doc_b AS dst FROM pairs
            UNION ALL SELECT doc_b, doc_a FROM pairs
        ), {_cc_comp_ctes()}, final_kept AS (
            SELECT k.lang, k.n_tokens
            FROM kept k LEFT JOIN comp c ON k.doc_id = c.doc_id
            WHERE c.doc_id IS NULL OR c.component = k.doc_id
        ), totals AS (
            SELECT lang, count(*) AS n_docs_in FROM documents GROUP BY lang
        ), survived AS (
            SELECT lang, count(*) AS n_docs_kept,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM final_kept GROUP BY lang
        )
        SELECT t.lang, n_docs_in,
               COALESCE(n_docs_kept, 0) AS n_docs_kept,
               COALESCE(n_tokens_kept, 0) AS n_tokens_kept,
               COALESCE(n_docs_kept, 0) / n_docs_in AS keep_rate
        FROM totals t LEFT JOIN survived s ON t.lang = s.lang
        ORDER BY t.lang
        """,
        "capstone v2: quality -> language -> exact dedup -> near-dup cluster dedup (LSH pairs + transitive closure) -> yield",
    ),
    "source_extraction": QuerySpec(
        # try_cast, not cast: a source id without the src<N> token makes
        # regexp_extract return '' and an ANSI cast KILLS THE JOB — at
        # 100 TB some URL always breaks the pattern; non-matching rows
        # land in a NULL bucket instead (random-docs probe regression).
        # Values on any corpus where every source matches (the shipped
        # data) are byte-identical to the pre-r08 form.
        _docs(
            lambda df: df.select(
                F.regexp_extract("source", r"src(\d+)", 1)
                .try_cast("int")
                .alias("src_num"),
                "n_chars",
            )
            .groupBy("src_num")
            .agg(F.count("*").alias("n_docs"), F.sum("n_chars").alias("total_chars"))
        ),
        """
        SELECT TRY_CAST(regexp_extract(source, 'src(\\d+)', 1) AS INTEGER) AS src_num,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY src_num
        """,
        "regexp group extraction over a semi-structured id column "
        "(try_cast: unmatched ids bucket under NULL instead of failing)",
    ),
    # ---- multimodal ----
    # The PNG path is oracle-checked via the synthesis rules: the oracle
    # recomputes width/height/pixel sums from the raw text with NO PNG
    # machinery (documents are pure ASCII, so ascii() == utf-8 byte);
    # agreement proves the encode->decode round-trip (zlib + scanline
    # filters) lossless. The mixed-modality aggregate stays rows-only
    # (its stub branch is deliberately not SQL-expressible).
    "png_decode_stats": QuerySpec(
        _docs(multimodal.png_decode_stats),
        f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 16 + 1 AS INTEGER) AS width,
                   CAST(length(text) % 12 + 1 AS INTEGER) AS height
            FROM {_SYNTH_DOCS} WHERE doc_id % 2 = 0
        ), sums AS (
            -- empty-text guards: len=0 synthesizes a zero-padded 1x1
            -- image, so every sum term must collapse to 0, not NULL.
            SELECT doc_id, width, height,
                   width * height AS n_pixels,
                   CASE WHEN len = 0 THEN 0 ELSE (width * height) // len END AS full_reps,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS all_sum,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE (width * height) % len END + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS prefix_sum
            FROM base
        )
        SELECT doc_id, width, height, n_pixels,
               CAST(full_reps * all_sum + prefix_sum AS BIGINT) AS sum_intensity,
               CAST(full_reps * all_sum + prefix_sum AS DOUBLE) / n_pixels AS mean_intensity
        FROM sums ORDER BY doc_id
        """,
        "PNG decode round-trip vs a pure-text oracle: codec losslessness is the correctness claim",
    ),
    "image_resize_stats": QuerySpec(
        _docs(multimodal.image_resize_stats),
        # Closed-form replay of encode -> decode -> nearest-neighbor
        # resample: source pixel p is text byte (p % len) by the tiling
        # rule, and the resample picks p = sy*w + sx with the integer
        # floor mapping — every knob f-string-derived from the operator
        # constants (out grid {W}x{H}).
        (lambda W, H: f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 16 + 1 AS INTEGER) AS w,
                   CAST(length(text) % 12 + 1 AS INTEGER) AS h
            FROM {_SYNTH_DOCS} WHERE doc_id % 2 = 0
        ), sums AS (
            SELECT doc_id,
                   COALESCE(CAST(list_aggregate(list_transform(range(0, {W * H}),
                       i -> CASE WHEN len = 0 THEN 0 ELSE ascii(substr(text,
                            CAST(((((i // {W}) * h) // {H}) * w
                                  + (((i % {W}) * w) // {W})) % len + 1 AS INTEGER),
                            1)) END), 'sum') AS BIGINT), 0) AS s
            FROM base
        )
        SELECT doc_id, CAST({W} AS INTEGER) AS width, CAST({H} AS INTEGER) AS height,
               CAST({W * H} AS BIGINT) AS n_pixels,
               s AS sum_intensity,
               CAST(s AS DOUBLE) / {W * H} AS mean_intensity
        FROM sums ORDER BY doc_id
        """)(multimodal.RESIZE_STATS_W, multimodal.RESIZE_STATS_H),
        "REAL-resize round-trip one stage past png_decode_stats: full "
        "PNG decode -> integer-floor nearest-neighbor resample -> stats "
        "of the RESIZED image, vs a closed-form pure-text oracle — "
        "proves the resampler (not just its plumbing) byte-exact",
    ),
    "bmp_decode_stats": QuerySpec(
        _docs(multimodal.bmp_decode_stats),
        f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 12 + 1 AS INTEGER) AS width,
                   CAST(length(text) % 8 + 1 AS INTEGER) AS height
            FROM {_SYNTH_DOCS} WHERE doc_id % 2 = 1
        ), sums AS (
            -- empty-text guards as in png_decode_stats.
            SELECT doc_id, width, height,
                   width * height AS n_pixels,
                   width * height * 3 AS n_px_bytes,
                   CASE WHEN len = 0 THEN 0 ELSE (width * height * 3) // len END AS full_reps,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS all_sum,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE (width * height * 3) % len END + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS prefix_sum
            FROM base
        )
        SELECT doc_id, width, height, n_pixels,
               CAST(full_reps * all_sum + prefix_sum AS BIGINT) AS sum_intensity,
               CAST(full_reps * all_sum + prefix_sum AS DOUBLE) / n_px_bytes AS mean_intensity
        FROM sums ORDER BY doc_id
        """,
        "BMP decode round-trip vs a pure-text oracle: the second real codec "
        "(24-bit BI_RGB; bottom-up rows, BGR, padding) externally verified",
    ),
    "jpeg_decode_stats": QuerySpec(
        _docs(multimodal.jpeg_decode_stats),
        f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST((length(text) % 4 + 1) * 8 AS INTEGER) AS width,
                   CAST((length(text) % 3 + 1) * 8 AS INTEGER) AS height,
                   CAST((length(text) % 4 + 1) * (length(text) % 3 + 1) AS INTEGER) AS n_blocks
            FROM {_SYNTH_DOCS}
        ), sums AS (
            -- each constant 8x8 block contributes 64 * its byte value;
            -- block values are the text bytes tiled over n_blocks.
            -- empty-text guards as in png_decode_stats.
            SELECT doc_id, width, height, n_blocks,
                   width * height AS n_pixels,
                   CASE WHEN len = 0 THEN 0 ELSE n_blocks // len END AS full_reps,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS all_sum,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE n_blocks % len END + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS prefix_sum
            FROM base
        )
        SELECT doc_id, width, height, n_blocks, n_pixels,
               CAST(64 * (full_reps * all_sum + prefix_sum) AS BIGINT) AS sum_intensity,
               CAST(64 * (full_reps * all_sum + prefix_sum) AS DOUBLE) / n_pixels AS mean_intensity
        FROM sums ORDER BY doc_id
        """,
        "JPEG decode round-trip vs a pure-text oracle: the fifth real codec — full "
        "baseline pipeline (Huffman, DC prediction, AC run-length, dequant, IDCT) made "
        "exact by DC-only construction, externally verified",
    ),
    "wav_decode_stats": QuerySpec(
        _docs(multimodal.wav_decode_stats),
        f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 2 + 1 AS INTEGER) AS n_channels,
                   CAST(length(text) % 48 + 1 AS INTEGER) AS n_frames,
                   CAST(8000 * (length(text) % 3 + 1) AS INTEGER) AS sample_rate
            FROM {_SYNTH_DOCS}
        ), sums AS (
            -- |sample i| = (128 - ascii(byte[i % len])) * 256 for ASCII
            -- text (every sample is negative by construction); tiled
            -- sum = full_reps * whole-text sum + prefix sum, with the
            -- same empty-text zero-collapse guards as png_decode_stats.
            SELECT doc_id, n_frames, n_channels, sample_rate,
                   CAST(n_frames * n_channels AS BIGINT) AS n_samples,
                   CASE WHEN len = 0 THEN 0 ELSE (n_frames * n_channels) // len END AS full_reps,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                        i -> (128 - ascii(substr(text, CAST(i AS INTEGER), 1))) * 256), 'sum') AS BIGINT), 0) AS all_sum,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE (n_frames * n_channels) % len END + 1),
                        i -> (128 - ascii(substr(text, CAST(i AS INTEGER), 1))) * 256), 'sum') AS BIGINT), 0) AS prefix_sum
            FROM base
        )
        SELECT doc_id, n_frames, n_channels, sample_rate, n_samples,
               CAST(full_reps * all_sum + prefix_sum AS BIGINT) AS sum_amplitude,
               CAST(full_reps * all_sum + prefix_sum AS DOUBLE) / n_samples AS mean_amplitude,
               CAST((n_frames * 1000) // sample_rate AS BIGINT) AS duration_ms
        FROM sums ORDER BY doc_id
        """,
        "WAV decode round-trip vs a pure-text oracle: the third real codec "
        "(16-bit PCM RIFF/WAVE; chunk walk, fmt validation, int16 unpack) externally verified",
    ),
    "gif_frame_stats": QuerySpec(
        _docs(multimodal.gif_frame_stats),
        f"""
        WITH {_gif_frames_ctes()}
        SELECT doc_id, frame_idx, width, height,
               CAST(npix AS BIGINT) AS n_pixels,
               sum_px AS sum_intensity,
               CAST(sum_px AS DOUBLE) / npix AS mean_intensity,
               CAST(delay_cs * 10 AS BIGINT) AS delay_ms
        FROM gif_sums ORDER BY doc_id, frame_idx
        """,
        "animated-GIF decode round-trip vs a pure-text oracle: the fourth real codec "
        "(LZW + container walk, 1:N frame expansion, GCE delays) externally verified per frame",
    ),
    "video_frame_sample": QuerySpec(
        _docs(multimodal.video_frame_sample),
        f"""
        WITH {_gif_frames_ctes()}, timed AS (
            -- playback timeline: frame f is visible from the cumsum of
            -- the PRECEDING frames' GCE delays
            SELECT doc_id, frame_idx, width, height, npix, sum_px,
                   COALESCE(SUM(delay_cs) OVER (
                       PARTITION BY doc_id ORDER BY frame_idx
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ), 0) AS start_cs,
                   SUM(delay_cs) OVER (PARTITION BY doc_id) AS duration_cs
            FROM gif_sums
        ), picked AS (
            -- frame VISIBLE at t_k = floor(k*duration/S): the argmax
            -- frame whose start precedes the target timestamp
            SELECT t.doc_id, CAST(s.k AS INTEGER) AS sample_idx,
                   (s.k * t.duration_cs) // {multimodal.VIDEO_SAMPLES} AS t_cs,
                   max(t.frame_idx) AS fsel
            FROM timed t
            CROSS JOIN (VALUES {", ".join(f"({k})" for k in range(multimodal.VIDEO_SAMPLES))}) AS s(k)
            WHERE t.start_cs <= (s.k * t.duration_cs) // {multimodal.VIDEO_SAMPLES}
            GROUP BY 1, 2, 3
        )
        SELECT p.doc_id, p.sample_idx,
               CAST(p.t_cs * 10 AS BIGINT) AS t_ms,
               t.frame_idx, t.width, t.height,
               CAST(t.npix AS BIGINT) AS n_pixels,
               t.sum_px AS sum_intensity,
               CAST(t.sum_px AS DOUBLE) / t.npix AS mean_intensity
        FROM picked p
        JOIN timed t ON p.doc_id = t.doc_id AND p.fsel = t.frame_idx
        ORDER BY p.doc_id, p.sample_idx
        """,
        "time-based video frame sampling over real GIF clips: evenly spaced "
        "playback timestamps pick the visible frame (argmax start<=t over the "
        "parsed GCE delay timeline); decoded-pixel sums verified per sample — "
        "retires the byte-slicing video stub",
    ),
    "multimodal_features": QuerySpec(
        _docs(multimodal.multimodal_features),
        f"""
        WITH png AS (
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 16 + 1 AS INTEGER) AS width,
                   CAST(length(text) % 12 + 1 AS INTEGER) AS height,
                   1 AS n_channels, 'image/png' AS modality
            FROM {_SYNTH_DOCS} WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id, text, length(text) AS len,
                   CAST(length(text) % 12 + 1 AS INTEGER) AS width,
                   CAST(length(text) % 8 + 1 AS INTEGER) AS height,
                   3 AS n_channels, 'image/bmp' AS modality
            FROM {_SYNTH_DOCS} WHERE doc_id % 2 = 1
        ), sums AS (
            -- per-doc decoded byte total over width*height*n_channels
            -- sample points: the text bytes tiled (prefix-sum form),
            -- with the empty-text zero-collapse guards of
            -- png_decode_stats. Identical arithmetic for both codecs.
            SELECT modality, width, height,
                   CAST(width AS BIGINT) * height * n_channels AS units,
                   CASE WHEN len = 0 THEN 0 ELSE (width * height * n_channels) // len END AS full_reps,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, len + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS all_sum,
                   COALESCE(CAST(list_aggregate(list_transform(range(1, CASE WHEN len = 0 THEN 0 ELSE (width * height * n_channels) % len END + 1),
                        i -> ascii(substr(text, CAST(i AS INTEGER), 1))), 'sum') AS BIGINT), 0) AS prefix_sum
            FROM png
        )
        SELECT modality,
               CAST(count(*) AS INTEGER) AS n_docs,
               CAST(sum(CAST(width AS BIGINT) * height) AS BIGINT) AS total_pixels,
               CAST(sum(full_reps * all_sum + prefix_sum) AS BIGINT) AS sum_intensity,
               CAST(sum(full_reps * all_sum + prefix_sum) AS DOUBLE)
                   / CAST(sum(units) AS BIGINT) AS avg_intensity,
               CAST(max(width) AS INTEGER) AS max_width
        FROM sums GROUP BY modality
        """,
        "binary-column plumbing: real PNG + real BMP codec branches in one plan "
        "(mapInPandas) feeding an exact-integer per-modality aggregate the "
        "pure-text oracle replays with no codec — closes the last rows-only "
        "verification gap (r05 verdict #3)",
    ),
    # ---- round-3 additions: the remaining hard TPC-H shapes ----
    "q17_small_quantity_revenue": QuerySpec(
        _tables(relational.q17_small_quantity_revenue),
        f"""
        WITH small_parts AS (
            SELECT p_partkey FROM part WHERE p_brand = 'Brand#11' AND p_size < 15
        ), brand_lines AS (
            SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
            FROM lineitem l JOIN small_parts sp ON l.l_partkey = sp.p_partkey
        ), thresholds AS (
            SELECT l_partkey AS t_partkey,
                   0.2 * ({_stable_avg(_money('l_quantity'))}) AS qty_threshold
            FROM brand_lines GROUP BY l_partkey
        )
        SELECT {_stable_sum(_money('l_extendedprice'))} / 7.0 AS avg_yearly,
               CAST(count(*) AS INTEGER) AS n_small_lines
        FROM brand_lines b JOIN thresholds t ON b.l_partkey = t.t_partkey
        WHERE b.l_quantity < t.qty_threshold
        """,
        "TPC-H Q17: correlated scalar avg decorrelated to aggregate-then-broadcast-join",
    ),
    "q18_large_orders": QuerySpec(
        _tables(relational.q18_large_orders),
        f"""
        WITH big AS (
            SELECT l_orderkey, {_stable_sum(_money('l_quantity'))} AS sum_qty
            FROM lineitem GROUP BY l_orderkey
            HAVING {_stable_sum(_money('l_quantity'))} > 280.0
        )
        SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice, sum_qty
        FROM customer
        JOIN orders ON o_custkey = c_custkey
        JOIN big ON o_orderkey = big.l_orderkey
        """,
        "TPC-H Q18: HAVING-filtered aggregate broadcast back through orders and customer",
    ),
    "q4_order_priority_checking": QuerySpec(
        _tables(relational.q4_order_priority_checking),
        """
        WITH quarter AS (
            SELECT * FROM orders
            WHERE o_orderdate >= TIMESTAMP '1996-07-01'
              AND o_orderdate < TIMESTAMP '1996-10-01'
        ), late AS (
            SELECT DISTINCT o.o_orderkey
            FROM lineitem l JOIN quarter o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate > o.o_orderdate + INTERVAL 30 DAY
        )
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM quarter WHERE o_orderkey IN (SELECT o_orderkey FROM late)
        GROUP BY o_orderpriority ORDER BY o_orderpriority
        """,
        "TPC-H Q4 shape: EXISTS-late-line decorrelated to a left-semi "
        "join (lateness adapted to l_shipdate > o_orderdate + 30d, the "
        "q21 rule — schema has no commit/receipt dates)",
    ),
    "q12_priority_by_returnflag": QuerySpec(
        _tables(relational.q12_priority_by_returnflag),
        """
        SELECT l_returnflag,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
               CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                             THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        WHERE year(l_shipdate) = 1997
        GROUP BY l_returnflag ORDER BY l_returnflag
        """,
        "TPC-H Q12 shape: high/low-priority CASE-sum split per shipping "
        "class (class adapted to l_returnflag — schema has no "
        "l_shipmode)",
    ),
    "q21_sole_late_supplier": QuerySpec(
        _tables(relational.q21_sole_late_supplier),
        """
        WITH flags AS (
            SELECT l_orderkey, l_suppkey,
                   l_shipdate > o_orderdate + INTERVAL 60 DAY AS late
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        ), per_order AS (
            SELECT l_orderkey,
                   count(DISTINCT l_suppkey) AS n_suppliers,
                   count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_suppliers,
                   max(CASE WHEN late THEN l_suppkey END) AS late_suppkey
            FROM flags GROUP BY 1
        )
        SELECT s_suppkey, s_name, CAST(count(*) AS INTEGER) AS numwait
        FROM per_order JOIN supplier ON late_suppkey = s_suppkey
        WHERE n_suppliers >= 2 AND n_late_suppliers = 1
        GROUP BY s_suppkey, s_name
        """,
        "TPC-H Q21 shape: EXISTS + NOT-EXISTS decorrelated to one per-order aggregate "
        "(late = shipped >60d after order date; schema has no commit/receipt dates)",
    ),
    "q15_top_supplier": QuerySpec(
        _tables(relational.q15_top_supplier),
        f"""
        WITH rev AS (
            SELECT l_suppkey, sum({DISC_PRICE_DEC}) AS rev_dec
            FROM lineitem
            WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1995-04-01'
            GROUP BY l_suppkey
        ), mx AS (
            SELECT max(rev_dec) AS max_rev_dec FROM rev
        )
        SELECT s_suppkey, s_name, CAST(rev_dec AS DOUBLE) AS total_revenue
        FROM rev, mx, supplier
        WHERE rev_dec = max_rev_dec AND l_suppkey = s_suppkey
        """,
        "TPC-H Q15: max over an aggregated view, probed via 1-row broadcast on exact decimals",
    ),
    "ann_recall": QuerySpec(
        _emb(lambda df: similarity.ann_recall(df, 10)),
        _ann_recall_sql(10),
        "recall@k of lsh/ivf/ivf_mp2/pq/ivfpq/pca vs exact brute-force: "
        "the ANN evaluation harness as a query",
    ),
    "ann_ranking_metrics": QuerySpec(
        _emb(lambda df: similarity.ann_ranking_metrics(df, 10)),
        _ann_ranking_sql(10),
        "MRR + NDCG@10 of one index per ANN family vs exact: the "
        "rank-position-sensitive IR view; per-rank discounts are "
        "driver-computed integer literals, so both metrics are exact "
        "integer sums + one division — no log2 in either engine",
    ),
    # ---- round-3 additions, part 2: the full remaining TPC-H battery
    # expressible on this schema (no partsupp / phone / comment / shipmode
    # columns; adapted shapes note their substitutions inline) ----
    "q7_volume_shipping": QuerySpec(
        _tables(relational.q7_volume_shipping),
        f"""
        WITH supp AS (
            SELECT s_suppkey, n_name AS supp_nation FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2')
        ), cust AS (
            SELECT c_custkey, n_name AS cust_nation FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            WHERE n_name IN ('NATION_1', 'NATION_2')
        )
        SELECT supp_nation, cust_nation,
               CAST(year(l_shipdate) AS INTEGER) AS ship_year,
               {_stable_sum(DISC_PRICE_DEC)} AS revenue,
               CAST(count(*) AS INTEGER) AS n_lines
        FROM lineitem
        JOIN supp ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN cust ON o_custkey = c_custkey
        WHERE l_shipdate >= TIMESTAMP '1995-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND supp_nation <> cust_nation
        GROUP BY 1, 2, 3
        """,
        "TPC-H Q7: nation-pair filters pushed to both dim sides before the fact-fact join",
    ),
    "q8_market_share": QuerySpec(
        _tables(relational.q8_market_share),
        f"""
        WITH region_custs AS (
            SELECT c_custkey FROM customer
            JOIN nation ON c_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'ASIA'
        ), supp AS (
            SELECT s_suppkey, n_name AS supp_nation FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
        ), vol AS (
            SELECT o_orderdate, supp_nation, l_extendedprice, l_discount
            FROM lineitem
            JOIN part ON l_partkey = p_partkey
            JOIN supp ON l_suppkey = s_suppkey
            JOIN orders ON l_orderkey = o_orderkey
            WHERE p_type = 'ECONOMY'
              AND o_orderdate >= TIMESTAMP '1995-01-01'
              AND o_orderdate < TIMESTAMP '1997-01-01'
              AND EXISTS (SELECT 1 FROM region_custs WHERE c_custkey = o_custkey)
        )
        SELECT CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_stable_sum(f"CASE WHEN supp_nation = 'NATION_2' THEN {DISC_PRICE_DEC} ELSE CAST(0 AS DECIMAL(17,4)) END")}
                   / NULLIF({_stable_sum(DISC_PRICE_DEC)}, 0) AS mkt_share,
               {_stable_sum(DISC_PRICE_DEC)} AS total_volume,
               CAST(count(*) AS INTEGER) AS n_lines
        FROM vol GROUP BY 1
        """,
        "TPC-H Q8: one-pass conditional-sum market share over region-semi-filtered volume",
    ),
    "q9_profit_by_nation": QuerySpec(
        _tables(relational.q9_profit_by_nation),
        f"""
        SELECT n_name, CAST(year(o_orderdate) AS INTEGER) AS o_year,
               {_stable_sum(
                   f"{DISC_PRICE_DEC} - {_money('p_retailprice')} * CAST(0.90 AS DECIMAL(3,2))"
                   f" * {_money('l_quantity')}"
               )} AS profit,
               CAST(count(*) AS INTEGER) AS n_lines
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        JOIN orders ON l_orderkey = o_orderkey
        WHERE p_name LIKE '%red%'
        GROUP BY 1, 2
        """,
        "TPC-H Q9 shape: profit by supplier nation/year (cost = 0.9*retailprice; no partsupp)",
    ),
    "q10_returned_items": QuerySpec(
        _tables(relational.q10_returned_items),
        f"""
        WITH per_cust AS (
            SELECT o_custkey,
                   {_stable_sum(DISC_PRICE_DEC)} AS revenue,
                   CAST(count(*) AS INTEGER) AS n_return_lines
            FROM orders JOIN lineitem ON o_orderkey = l_orderkey
            WHERE o_orderdate >= TIMESTAMP '1995-10-01'
              AND o_orderdate < TIMESTAMP '1996-01-01'
              AND l_returnflag = 'R'
            GROUP BY o_custkey
        )
        SELECT c_custkey, c_name, revenue, n_return_lines, c_acctbal, n_name
        FROM per_cust
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        ORDER BY revenue DESC, c_custkey LIMIT 20
        """,
        "TPC-H Q10: aggregate-before-join returned-item revenue, deterministic top-20",
    ),
    "q13_customer_distribution": QuerySpec(
        _tables(relational.q13_customer_distribution),
        """
        WITH per_cust AS (
            SELECT c_custkey, count(o_custkey) AS c_count
            FROM customer
            LEFT JOIN (
                SELECT o_custkey FROM orders WHERE o_orderpriority <> '1-URGENT'
            ) o ON c_custkey = o_custkey
            GROUP BY c_custkey
        )
        SELECT c_count, CAST(count(*) AS INTEGER) AS custdist
        FROM per_cust GROUP BY c_count
        """,
        "TPC-H Q13 shape: zero-preserving left join + double aggregation "
        "(priority filter stands in for the absent o_comment)",
    ),
    "decontaminate": QuerySpec(
        _docs(lambda df: dedup.decontaminate(df, "src0", n=dedup.DECONTAM_N)),
        f"""
        WITH eval_docs AS (
            SELECT doc_id, text FROM documents WHERE source = 'src0'
        ), {_shingles_ctes(n=dedup.DECONTAM_N, source='eval_docs')}, eval_h AS (
            SELECT DISTINCT {h64_sql('shingle')} AS h FROM shingles
        ), train AS (
            SELECT doc_id, lang, text FROM documents WHERE source <> 'src0'
        ), ttoks AS (
            SELECT doc_id, lang, {TOKENS_SQL} AS tk FROM train
        ), tsh AS (
            SELECT doc_id, lang, unnest({_slide_sql('tk', range(dedup.DECONTAM_N))}) AS shingle
            FROM ttoks
        ), cont AS (
            SELECT DISTINCT doc_id, lang FROM tsh
            JOIN eval_h ON {h64_sql('shingle')} = h
        ), cc AS (
            SELECT lang, CAST(count(*) AS INTEGER) AS n_contaminated FROM cont GROUP BY 1
        ), tt AS (
            SELECT lang, CAST(count(*) AS INTEGER) AS n_train_docs FROM train GROUP BY 1
        )
        SELECT tt.lang, n_train_docs,
               COALESCE(n_contaminated, 0) AS n_contaminated,
               CAST(COALESCE(n_contaminated, 0) AS DOUBLE) / n_train_docs AS contamination_rate
        FROM tt LEFT JOIN cc ON tt.lang = cc.lang
        """,
        "train/eval decontamination audit: broadcast eval shingle-hash set, semi-join probe, "
        "per-language contamination accounting",
    ),
    "corpus_profile": QuerySpec(
        _docs(ta.corpus_profile),
        """
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct_ids,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
               CAST(sum(CASE WHEN length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_empty,
               min(n_chars) AS min_chars,
               max(n_chars) AS max_chars,
               CAST(sum(n_chars) AS DOUBLE) / count(*) AS avg_chars,
               1.0 - CAST(count(DISTINCT md5(text)) AS DOUBLE) / count(*) AS exact_dup_ratio
        FROM documents
        """,
        "ANALYZE-style one-pass corpus profile: cardinalities, length stats, exact-dup rate",
    ),
    # ---- round-4 additions: training-mixture & semantic-dedup ops ----
    "repetition_signals": QuerySpec(
        _docs(ta.repetition_signals),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, words AS (
            SELECT doc_id, unnest(tk) AS word FROM toks
        ), tok AS (
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_tokens,
                   CAST(count(*) AS BIGINT) AS n_distinct,
                   CAST(max(cnt) AS BIGINT) AS top_cnt
            FROM (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word) c
            GROUP BY doc_id
        ), bigrams AS (
            SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_bigrams,
                   CAST(max(cnt) AS BIGINT) AS top_cnt
            FROM (
                SELECT doc_id, gram, count(*) AS cnt FROM (
                    SELECT doc_id, unnest({_slide_sql('tk', range(2))}) AS gram FROM toks
                ) g GROUP BY doc_id, gram
            ) c GROUP BY doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(t.n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(t.n_tokens - t.n_distinct AS DOUBLE) / NULLIF(t.n_tokens, 0) AS dup_token_ratio,
               CAST(t.top_cnt AS DOUBLE) / NULLIF(t.n_tokens, 0) AS top_token_ratio,
               CAST(b.top_cnt AS DOUBLE) / NULLIF(b.n_bigrams, 0) AS top_bigram_ratio
        FROM documents d
        LEFT JOIN tok t USING (doc_id) LEFT JOIN bigrams b USING (doc_id)
        """,
        "Gopher-style within-doc repetition battery: dup-token / top-token / top-bigram fractions",
    ),
    "boilerplate_ngrams": QuerySpec(
        _docs(ta.boilerplate_ngrams),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, grams AS (
            SELECT doc_id, unnest({_slide_sql('tk', range(3))}) AS gram FROM toks
        ), boiler AS (
            SELECT gram FROM grams GROUP BY gram
            HAVING count(DISTINCT doc_id) >= {ta.BOILERPLATE_MIN_DOCS}
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_grams FROM grams GROUP BY doc_id
        ), covered AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_boilerplate
            FROM grams WHERE gram IN (SELECT gram FROM boiler) GROUP BY doc_id
        )
        SELECT d.doc_id, d.lang,
               CAST(coalesce(p.n_grams, 0) AS BIGINT) AS n_grams,
               CAST(coalesce(c.n_boilerplate, 0) AS BIGINT) AS n_boilerplate,
               CAST(coalesce(c.n_boilerplate, 0) AS DOUBLE) / NULLIF(p.n_grams, 0) AS boilerplate_ratio
        FROM documents d
        LEFT JOIN per_doc p USING (doc_id) LEFT JOIN covered c USING (doc_id)
        """,
        "C4/RefinedWeb-style cross-document boilerplate: fraction of 3-gram positions "
        "recurring in >= 3 distinct docs",
    ),
    "duplicate_spans": QuerySpec(
        _docs(dedup.duplicate_spans),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, pos_grams AS (
            SELECT doc_id, CAST(i - 1 AS INTEGER) AS pos,
                   {h64_sql(f"array_to_string(tk[i:i + {dedup.SPAN_N - 1}], ' ')")} AS gh
            FROM (SELECT doc_id, tk,
                         unnest(range(1, greatest(len(tk) - {dedup.SPAN_N - 1}, 0) + 1)) AS i
                  FROM toks)
        ), dup AS (
            SELECT gh FROM pos_grams GROUP BY gh HAVING count(DISTINCT doc_id) >= 2
        ), islands AS (
            SELECT doc_id, pos,
                   sum(CASE WHEN prev IS NULL OR pos - prev > {dedup.SPAN_N} THEN 1 ELSE 0 END)
                       OVER (PARTITION BY doc_id ORDER BY pos) AS island
            FROM (SELECT doc_id, pos,
                         lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
                  FROM pos_grams WHERE gh IN (SELECT gh FROM dup))
        ), spans AS (
            SELECT doc_id, island, min(pos) AS s, max(pos) + {dedup.SPAN_N - 1} AS e
            FROM islands GROUP BY doc_id, island
        ), per_doc AS (
            SELECT doc_id, CAST(count(*) AS INTEGER) AS n_spans,
                   CAST(sum(e - s + 1) AS BIGINT) AS dup_tokens
            FROM spans GROUP BY doc_id
        )
        SELECT t.doc_id, CAST(len(tk) AS INTEGER) AS n_tokens,
               coalesce(p.n_spans, 0) AS n_spans,
               CAST(coalesce(p.dup_tokens, 0) AS BIGINT) AS dup_tokens,
               CAST(coalesce(p.dup_tokens, 0) AS DOUBLE) / NULLIF(len(tk), 0) AS dup_fraction
        FROM toks t LEFT JOIN per_doc p USING (doc_id) ORDER BY t.doc_id
        """,
        "Lee-et-al exact duplicate-substring spans: positional n-gram "
        "hashes, cross-doc duplicated grain, gaps-and-islands merge into "
        "maximal spans, per-doc excisable-token accounting — never a "
        "text self-join",
    ),
    "temperature_mixture": QuerySpec(
        _docs(curation.temperature_mixture),
        f"""
        WITH lt AS (
            SELECT lang, CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang
        ), q AS (
            SELECT lang, n_tokens,
                   CAST(round(sqrt(n_tokens), 6) AS DECIMAL(38,6)) AS qdec,
                   CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
                   sum(CAST(round(sqrt(n_tokens), 6) AS DECIMAL(38,6))) OVER () AS qsum
            FROM lt
        )
        SELECT lang, n_tokens,
               CAST(n_tokens AS DOUBLE) / total AS natural_share,
               CAST(qdec AS DOUBLE) / CAST(qsum AS DOUBLE) AS temp_share,
               (CAST(qdec AS DOUBLE) / CAST(qsum AS DOUBLE))
                 / (CAST(n_tokens AS DOUBLE) / total) AS boost
        FROM q ORDER BY lang
        """,
        "XLM-R alpha=0.5 temperature sampling shares: sqrt is IEEE "
        "correctly-rounded (unlike ln/pow), the irrational q values are "
        "rounded to 6 decimals and accumulated as DECIMAL so the "
        "denominator is exact and order-independent",
    ),
    "mixture_weights": QuerySpec(
        _docs(curation.mixture_weights),
        f"""
        WITH buckets AS (
            SELECT lang, source,
                   CAST(count(*) AS BIGINT) AS n_docs,
                   CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS n_tokens
            FROM documents GROUP BY lang, source
        ), w AS (
            SELECT lang, source, n_docs, n_tokens,
                   CAST(sum(n_tokens) OVER () AS BIGINT) AS total,
                   CAST(sum(n_tokens) OVER (PARTITION BY lang) AS BIGINT) AS lang_total,
                   (SELECT CAST(count(DISTINCT lang) AS BIGINT) FROM buckets) AS n_langs
            FROM buckets
        )
        SELECT lang, source, n_docs, n_tokens,
               CAST(n_tokens AS DOUBLE) / NULLIF(total, 0) AS actual_share,
               CAST(n_tokens AS DOUBLE) / NULLIF(n_langs * lang_total, 0) AS target_share,
               (CAST(n_tokens AS DOUBLE) / NULLIF(n_langs * lang_total, 0))
                   / NULLIF(CAST(n_tokens AS DOUBLE) / NULLIF(total, 0), 0) AS weight,
               (total * (CAST(n_tokens AS DOUBLE) / NULLIF(n_langs * lang_total, 0)))
                   / NULLIF(n_tokens, 0) AS expected_epochs
        FROM w
        """,
        "DoReMi-shaped training-mixture weights: uniform-over-language target, "
        "natural source proportions within language",
    ),
    "cdc_chunk_dedup": QuerySpec(
        _docs(ta.cdc_chunk_dedup),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, base AS (
            SELECT doc_id, tk FROM toks WHERE len(tk) > 0
        ), withb AS (
            SELECT doc_id, tk,
                   list_concat(list_concat([0], list_filter(range(1, len(tk)),
                       i -> CAST(('0x' || substr(md5(tk[i] || ' ' || tk[i + 1]), 1, 8)) AS BIGINT)
                            % {ta.CDC_DIVISOR} = 0)),
                       [len(tk)]) AS b
            FROM base
        ), positions AS (
            SELECT doc_id, tk, b, unnest(range(1, len(b))) AS j FROM withb
        ), ct AS (
            SELECT doc_id,
                   md5(array_to_string(tk[b[j] + 1 : b[j + 1]], ' ')) AS fp,
                   len(tk[b[j] + 1 : b[j + 1]]) AS n_tokens
            FROM positions
        ), fp_docs AS (
            SELECT fp, count(DISTINCT doc_id) AS n_docs FROM ct GROUP BY fp
        )
        SELECT doc_id,
               CAST(count(*) AS INTEGER) AS n_chunks,
               CAST(sum(n_tokens) AS BIGINT) AS n_chunk_tokens,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS INTEGER)
                   AS n_dup_chunks,
               CAST(sum(CASE WHEN n_docs >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
                   / count(*) AS dup_chunk_frac
        FROM ct JOIN fp_docs USING (fp)
        GROUP BY doc_id ORDER BY doc_id
        """,
        "content-defined chunking + chunk dedup: boundaries from the "
        "rolling pair hash (local content only, so edits re-synchronize "
        "— the insertion-robust property fixed-size chunking lacks); "
        "narrow per-row slicing, shuffles only on fingerprints",
    ),
    "chunk_documents": QuerySpec(
        _docs(ta.chunk_documents),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, sized AS (
            SELECT doc_id, tk,
                   CAST(floor((greatest(len(tk) - {ta.CHUNK_WINDOW}, 0) + {ta.CHUNK_STRIDE - 1})
                        / {ta.CHUNK_STRIDE}) + 1 AS INTEGER) AS n_chunks
            FROM toks WHERE len(tk) > 0
        ), starts AS (
            SELECT doc_id, tk, unnest(range(0, n_chunks)) AS i FROM sized
        )
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               CAST(len(tk[CAST(i * {ta.CHUNK_STRIDE} + 1 AS INTEGER)
                         : CAST(i * {ta.CHUNK_STRIDE} + {ta.CHUNK_WINDOW} AS INTEGER)]) AS INTEGER)
                   AS n_chunk_tokens,
               array_to_string(tk[CAST(i * {ta.CHUNK_STRIDE} + 1 AS INTEGER)
                                : CAST(i * {ta.CHUNK_STRIDE} + {ta.CHUNK_WINDOW} AS INTEGER)], ' ')
                   AS chunk_text
        FROM starts
        """,
        "context-window chunking with overlap (window 16 / stride 12): the "
        "curation -> tokenizer sharding step, as a narrow sequence+slice expression",
    ),
    "curation_yield_signals": QuerySpec(
        _docs(curation.curation_yield_signals),
        f"""
        WITH {_curation_kept_ctes()}, {_toks_cte('documents', 'doc_id')}, words AS (
            SELECT doc_id, unnest(tk) AS word FROM toks
        ), rep AS (
            SELECT doc_id,
                   CAST(CAST(sum(cnt) AS BIGINT) - CAST(count(*) AS BIGINT) AS DOUBLE)
                       / NULLIF(CAST(sum(cnt) AS BIGINT), 0) AS dup_token_ratio
            FROM (SELECT doc_id, word, count(*) AS cnt FROM words GROUP BY doc_id, word) c
            GROUP BY doc_id
        ), grams AS (
            SELECT doc_id, unnest({_slide_sql('tk', range(3))}) AS gram FROM toks
        ), boilset AS (
            SELECT gram FROM grams GROUP BY gram
            HAVING count(DISTINCT doc_id) >= {ta.BOILERPLATE_MIN_DOCS}
        ), boil AS (
            SELECT doc_id,
                   CAST(sum(CASE WHEN gram IN (SELECT gram FROM boilset) THEN 1 ELSE 0 END) AS DOUBLE)
                       / NULLIF(count(*), 0) AS boilerplate_ratio
            FROM grams GROUP BY doc_id
        ), final AS (
            SELECT k.doc_id, k.lang, k.n_tokens FROM kept k
            JOIN rep r ON k.doc_id = r.doc_id
            JOIN boil b ON k.doc_id = b.doc_id
            WHERE r.dup_token_ratio <= {curation.MAX_DUP_TOKEN_RATIO}
              AND b.boilerplate_ratio <= {curation.MAX_BOILERPLATE_RATIO}
        ), totals AS (
            SELECT lang, count(*) AS n_docs_in FROM documents GROUP BY lang
        ), survived AS (
            SELECT lang, count(*) AS n_docs_kept,
                   CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
            FROM final GROUP BY lang
        )
        SELECT t.lang, n_docs_in,
               COALESCE(n_docs_kept, 0) AS n_docs_kept,
               COALESCE(n_tokens_kept, 0) AS n_tokens_kept,
               COALESCE(n_docs_kept, 0) / n_docs_in AS keep_rate
        FROM totals t LEFT JOIN survived s ON t.lang = s.lang
        ORDER BY t.lang
        """,
        "capstone v3: curation gates + round-4 repetition and boilerplate signal gates "
        "(boilerplate set fitted on the FULL corpus, Gopher/C4 filter ordering)",
    ),
    "semdedup": QuerySpec(
        _emb(similarity.semdedup),
        f"""{_ivf_assigned_cte()}, dropped AS (
            SELECT DISTINCT a.vec_id FROM assigned a JOIN assigned b
              ON a.centroid_id = b.centroid_id AND b.vec_id < a.vec_id
             AND {_cosine_sql('a.emb', 'b.emb')} >= {similarity.SEMDEDUP_TAU}
        )
        {_drop_report_sql("assigned", "centroid_id")}
        """,
        "SemDeDup: IVF-cluster-scoped semantic near-dup pruning, keep-min-id, per-cluster audit",
    ),
    "latest_event_state": QuerySpec(
        _tables(events.latest_event_state),
        """
        WITH latest AS (
            SELECT event_type, ts FROM (
                SELECT event_type, ts,
                       row_number() OVER (
                           PARTITION BY user_id ORDER BY ts DESC, event_id DESC
                       ) AS rn
                FROM events
            ) r WHERE rn = 1
        )
        SELECT event_type AS latest_event_type,
               CAST(count(*) AS INTEGER) AS n_users,
               max(ts) AS newest_ts,
               min(ts) AS oldest_ts
        FROM latest GROUP BY 1
        """,
        "CDC latest-record-wins compaction of the event log, summarized by current state",
    ),
    "q5_local_supplier_volume": QuerySpec(
        _tables(relational.q5_local_supplier_volume),
        f"""
        WITH region_nations AS (
            SELECT n_nationkey, n_name FROM nation
            JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'
        )
        SELECT n_name,
               {_stable_sum(DISC_PRICE_DEC)} AS revenue,
               CAST(count(*) AS INTEGER) AS n_lines
        FROM lineitem
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN region_nations ON c_nationkey = n_nationkey
        WHERE s_nationkey = c_nationkey
          AND o_orderdate >= TIMESTAMP '1996-01-01'
          AND o_orderdate < TIMESTAMP '1997-01-01'
        GROUP BY n_name
        """,
        "TPC-H Q5: same-nation residual compare after equi-joins, never a nationkey fan-out join",
    ),
    "q6_forecast_revenue": QuerySpec(
        _tables(relational.q6_forecast_revenue),
        f"""
        SELECT {_stable_sum(f"{_money('l_extendedprice')} * {_rate('l_discount')}")} AS revenue,
               CAST(count(*) AS INTEGER) AS n_lines
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1996-01-01' AND l_shipdate < TIMESTAMP '1997-01-01'
          AND {_rate('l_discount')} BETWEEN CAST(0.05 AS DECIMAL(3,2)) AND CAST(0.07 AS DECIMAL(3,2))
          AND l_quantity < 24
        """,
        "TPC-H Q6: scan-only filtered global sum on exact decimal boundaries",
    ),
    "q22_dormant_customers": QuerySpec(
        _tables(relational.q22_dormant_customers),
        f"""
        WITH avg_bal AS (
            SELECT CAST(sum({_money('c_acctbal')}) AS DOUBLE) / count(*) AS avg_bal
            FROM customer WHERE c_acctbal > 0
        )
        SELECT c_mktsegment,
               CAST(count(*) AS INTEGER) AS n_custs,
               {_stable_sum(_money('c_acctbal'))} AS total_acctbal
        FROM customer, avg_bal
        WHERE c_acctbal > avg_bal
          AND NOT EXISTS (
              SELECT 1 FROM orders
              WHERE o_custkey = c_custkey AND o_orderdate >= TIMESTAMP '2000-01-01'
          )
        GROUP BY c_mktsegment
        """,
        "TPC-H Q22 shape: global-scalar threshold + anti-join on recent orders, "
        "grouped by segment (no phone country code in schema)",
    ),
    "q11_important_stock": QuerySpec(
        _tables(relational.q11_important_stock),
        f"""
        WITH region_supp AS (
            SELECT s_suppkey FROM supplier
            JOIN nation ON s_nationkey = n_nationkey
            JOIN region ON n_regionkey = r_regionkey
            WHERE r_name = 'EUROPE'
        ), vals AS (
            SELECT l_partkey,
                   sum({_money('l_extendedprice')}) AS value_dec,
                   CAST(count(*) AS INTEGER) AS n_lines
            FROM lineitem JOIN region_supp ON l_suppkey = s_suppkey
            GROUP BY l_partkey
        ), total AS (
            SELECT sum(value_dec) AS total_dec FROM vals
        )
        SELECT l_partkey AS p_partkey,
               CAST(value_dec AS DOUBLE) AS stock_value,
               n_lines
        FROM vals, total
        WHERE value_dec * 1000 > total_dec
        """,
        "TPC-H Q11 shape: decorrelated scalar-subquery threshold, pure-decimal "
        "value*den > total compare (no double fraction)",
    ),
    "q16_supplier_part_types": QuerySpec(
        _tables(relational.q16_supplier_part_types),
        """
        SELECT p_brand, p_type, p_size,
               CAST(count(DISTINCT l_suppkey) AS INTEGER) AS supplier_cnt
        FROM lineitem
        JOIN part ON l_partkey = p_partkey
        WHERE p_brand <> 'Brand#45' AND p_type <> 'PROMO'
          AND p_size IN (3, 7, 14, 23, 36, 45, 49, 1)
          AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
        GROUP BY p_brand, p_type, p_size
        """,
        "TPC-H Q16 shape: broadcast-anti supplier blacklist + two-phase "
        "count-distinct over the (brand,type,size) grid",
    ),
    "q20_surplus_suppliers": QuerySpec(
        _tables(relational.q20_surplus_suppliers),
        f"""
        WITH red_parts AS (
            SELECT p_partkey FROM part WHERE p_name LIKE 'red%'
        ), qty AS (
            SELECT l_suppkey,
                   sum(CASE WHEN year(l_shipdate) = 1997
                            THEN {_money('l_quantity')}
                            ELSE CAST(0 AS DECIMAL(12,2)) END) AS qty_year,
                   sum({_money('l_quantity')}) AS qty_total,
                   count(*) AS n_lines
            FROM lineitem JOIN red_parts ON l_partkey = p_partkey
            GROUP BY l_suppkey, l_partkey
        )
        SELECT s_suppkey, s_name, n_name
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey IN (
            SELECT l_suppkey FROM qty WHERE n_lines >= 3 AND qty_year * 2 > qty_total
        )
        """,
        "TPC-H Q20 shape: decorrelated EXISTS chain -> broadcast semi-join; "
        "exact-decimal half-threshold (qty*2 > total)",
    ),
    "user_value_trend": QuerySpec(
        _tables(events.user_value_trend),
        f"""
        WITH base AS (
            SELECT user_id,
                   CAST(epoch_us(ts) - {events.TREND_EPOCH_US} AS HUGEINT) AS x,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS HUGEINT) AS y
            FROM events
        ), sums AS (
            SELECT user_id, count(*) AS n,
                   sum(x) AS sx, sum(y) AS sy,
                   sum(x * x) AS sxx, sum(x * y) AS sxy, sum(y * y) AS syy
            FROM base GROUP BY user_id
        )
        SELECT user_id,
               CAST(n AS INTEGER) AS n_events,
               CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
                   * 86400000000.0 / 100.0 AS slope_per_day,
               CAST(sy * sxx - sx * sxy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
                   / 100.0 AS intercept,
               CASE WHEN n * syy - sy * sy = 0 THEN 1.0
                    ELSE CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE)
                         / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
               END AS r2
        FROM sums
        WHERE n >= 3 AND n * sxx <> sx * sx
        """,
        "Per-user OLS value trend: closed-form regression from five distributive "
        "exact-integer sums (one partial->final groupBy); only the final "
        "slope/intercept/r2 divisions are double",
    ),
    "dsir_importance_weights": QuerySpec(
        _docs(ta.dsir_importance_weights),
        f"""
        WITH {_toks_cte('documents', 'doc_id', "lang = 'en' AS is_target")}, grams AS (
            SELECT doc_id, is_target, unnest(tk) AS gram FROM toks
            UNION ALL
            SELECT doc_id, is_target, unnest({_slide_sql('tk', range(2))}) AS gram FROM toks
        ), tf AS (
            SELECT doc_id, is_target,
                   {h32_sql('gram')} % {ta.DSIR_BUCKETS} AS bucket,
                   count(*) AS cnt
            FROM grams GROUP BY 1, 2, 3
        ), buckets AS (
            SELECT bucket, CAST(sum(cnt) AS BIGINT) AS cnt_raw,
                   CAST(sum(CASE WHEN is_target THEN cnt ELSE 0 END) AS BIGINT) AS cnt_t
            FROM tf GROUP BY bucket
        ), totals AS (
            SELECT CAST(sum(cnt_raw) AS BIGINT) AS total_raw,
                   CAST(sum(cnt_t) AS BIGINT) AS total_t
            FROM buckets
        ), lr AS (
            SELECT bucket,
                   CAST(floor({ta.SURPRISAL_SCALE} * (
                        ln(CAST(cnt_t + 1 AS DOUBLE))
                        - ln(CAST(total_t + {ta.DSIR_BUCKETS} AS DOUBLE))
                        - ln(CAST(cnt_raw + 1 AS DOUBLE))
                        + ln(CAST(total_raw + {ta.DSIR_BUCKETS} AS DOUBLE)))) AS BIGINT) AS lr_cn
            FROM buckets CROSS JOIN totals
        )
        SELECT doc_id,
               CAST(max(CASE WHEN is_target THEN 1 ELSE 0 END) AS INTEGER) AS is_target,
               CAST(sum(cnt) AS BIGINT) AS n_feats,
               CAST(sum(cnt * lr_cn) AS BIGINT) AS logw_cn,
               CAST(sum(cnt * lr_cn) AS DOUBLE) / sum(cnt) AS avg_logw_cn,
               CAST(CASE WHEN sum(cnt * lr_cn) > 0 THEN 1 ELSE 0 END AS INTEGER) AS selected
        FROM tf JOIN lr USING (bucket)
        GROUP BY doc_id
        """,
        "DSIR hashed-ngram importance weights: 512-bucket target/raw models, "
        "centinat-quantized log-ratios, exact-integer per-doc sums",
    ),
    "state_intervals": QuerySpec(
        _tables(events.state_intervals),
        """
        WITH seq AS (
            SELECT user_id, event_type, ts,
                   row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   - row_number() OVER (PARTITION BY user_id, event_type
                                        ORDER BY ts, event_id) AS island
            FROM events
        )
        SELECT user_id, event_type,
               min(ts) AS valid_from,
               max(ts) AS valid_to,
               CAST(count(*) AS INTEGER) AS n_events
        FROM seq GROUP BY user_id, event_type, island
        """,
        "Gaps-and-islands SCD2 validity intervals: double-row_number island key, "
        "one user_id exchange serves both windows",
    ),
    "entity_match_customers": QuerySpec(
        _tables(relational.entity_match_customers),
        # The four tuning knobs (rarest-K, df cap, quorum, max edit
        # distance) are f-string-derived from the SAME relational.py
        # constants the operator defaults to, so retuning cannot
        # desynchronize the two sides (ADVICE r07; the _kmv_rollup_sql
        # discipline).
        f"""
        WITH clean AS (
            SELECT c_custkey, c_name FROM customer
        ), dirty AS (
            SELECT c_custkey + 1000000 AS dirty_id,
                   substr(c_name, 1, CAST(c_custkey % 8 AS INTEGER)) || 'x'
                   || substr(c_name, CAST(c_custkey % 8 AS INTEGER) + 2) AS dirty_name
            FROM clean WHERE c_custkey % 3 = 0
        ), cgrams AS (
            SELECT DISTINCT c_custkey, c_name, gram FROM (
                SELECT c_custkey, c_name,
                       unnest(list_transform(range(1, greatest(length(c_name) - 2, 0) + 1),
                              i -> substr(c_name, CAST(i AS INTEGER), 3))) AS gram
                FROM clean
            )
        ), dfreq AS (
            SELECT gram, count(DISTINCT c_custkey) AS df FROM cgrams GROUP BY gram
        ), dgrams AS (
            SELECT DISTINCT dirty_id, dirty_name, gram FROM (
                SELECT dirty_id, dirty_name,
                       unnest(list_transform(range(1, greatest(length(dirty_name) - 2, 0) + 1),
                              i -> substr(dirty_name, CAST(i AS INTEGER), 3))) AS gram
                FROM dirty
            )
        ), block_keys AS (
            SELECT dirty_id, gram,
                   count(*) OVER (PARTITION BY dirty_id) AS n_block
            FROM (
                SELECT dirty_id, gram,
                       row_number() OVER (PARTITION BY dirty_id ORDER BY df, gram) AS rk
                FROM dgrams JOIN dfreq USING (gram)
                WHERE df <= {relational.ER_DF_CAP}
            ) WHERE rk <= {relational.ER_K_BLOCK}
        ), cand AS (
            SELECT dirty_id, c_custkey
            FROM block_keys JOIN cgrams USING (gram)
            GROUP BY dirty_id, n_block, c_custkey
            HAVING count(*) >= least({relational.MIN_BLOCK_AGREE}, n_block)
        ), verified AS (
            SELECT dirty_id, c_custkey,
                   levenshtein(dirty_name, c_name) AS edit_dist
            FROM cand JOIN dirty USING (dirty_id) JOIN clean USING (c_custkey)
            WHERE levenshtein(dirty_name, c_name) <= {relational.ER_MAX_DIST}
        ), ranked AS (
            SELECT dirty_id, c_custkey, edit_dist,
                   row_number() OVER (PARTITION BY dirty_id
                                      ORDER BY edit_dist, c_custkey) AS rn,
                   count(*) OVER (PARTITION BY dirty_id) AS n_candidates
            FROM verified
        )
        SELECT dirty_id,
               c_custkey AS matched_custkey,
               CAST(edit_dist AS INTEGER) AS edit_dist,
               CAST(n_candidates AS INTEGER) AS n_candidates
        FROM ranked WHERE rn = 1
        """,
        "Blocked fuzzy entity resolution: per-record rarest-K 3-gram blocking "
        "(df-capped) + 2-of-K gram-agreement prefilter (r07 — cuts the "
        "saturated-block verify constant), Levenshtein on agreeing candidates "
        "only, deterministic winner",
    ),
    "orders_merge_upsert": QuerySpec(
        _tables(relational.orders_merge_upsert),
        f"""
        WITH target AS (
            SELECT o_orderkey, o_orderstatus,
                   CAST({_money('o_totalprice')} AS DECIMAL(16,4)) AS o_totalprice
            FROM orders
        ), source AS (
            SELECT o_orderkey AS s_key, o_orderstatus AS s_status,
                   CAST(o_totalprice * CAST(1.10 AS DECIMAL(3,2)) AS DECIMAL(16,4)) AS s_price
            FROM target WHERE o_orderkey % 7 = 0
            UNION ALL
            SELECT o_orderkey + 10000000, o_orderstatus, o_totalprice
            FROM target WHERE o_orderkey % 97 = 0
        ), merged AS (
            SELECT COALESCE(s.s_status, t.o_orderstatus) AS status,
                   COALESCE(s.s_price, t.o_totalprice) AS price,
                   CASE WHEN t.o_orderkey IS NULL THEN 1 ELSE 0 END AS ins,
                   CASE WHEN t.o_orderkey IS NOT NULL AND s.s_key IS NOT NULL
                        THEN 1 ELSE 0 END AS upd
            FROM target t FULL OUTER JOIN source s ON t.o_orderkey = s.s_key
        )
        SELECT status,
               CAST(count(*) AS INTEGER) AS n_rows,
               CAST(sum(price) AS DOUBLE) AS total_price,
               CAST(sum(ins) AS INTEGER) AS n_inserted,
               CAST(sum(upd) AS INTEGER) AS n_updated,
               CAST(count(*) - sum(ins) - sum(upd) AS INTEGER) AS n_carried
        FROM merged GROUP BY status
        """,
        "MERGE INTO (SCD1 upsert) as ONE full-outer shuffle join + audit aggregate; "
        "planted update/insert batches, exact-decimal repricing",
    ),
    "bpe_train_merges": QuerySpec(
        _docs(ta.bpe_train_merges),
        None,  # replaced below by the unrolled-CTE builder
        "FULL iterative BPE training (6 rounds): vocabulary-sized state, "
        "double-space symbol strings make each merge a literal replace; "
        "oracle = the same rounds unrolled as chained CTEs (pagerank precedent)",
    ),
    "bpe_encode_stats": QuerySpec(
        _docs(ta.bpe_encode_stats),
        None,  # replaced below — shares _bpe_rounds_ctes with the trainer
        "ENCODE with the trained BPE: per-document token/fertility stats "
        "via ONE vocabulary-sized broadcast join onto the token stream — "
        "text is never re-tokenized per merge round",
    ),
    "benford_digit_audit": QuerySpec(
        _tables(relational.benford_digit_audit),
        f"""
        WITH digits AS (
            SELECT CAST(NULLIF(regexp_extract(
                       CAST(CAST(o_totalprice AS DECIMAL(12,2)) AS VARCHAR),
                       '[1-9]', 0), '') AS INTEGER) AS digit
            FROM orders
        ), counts AS (
            SELECT digit, CAST(count(*) AS BIGINT) AS n
            FROM digits WHERE digit IS NOT NULL GROUP BY digit
        ), total AS (
            SELECT CAST(sum(n) AS BIGINT) AS total FROM counts
        ), expected(digit, exp_n9) AS (
            VALUES {", ".join(f"({d}, {nano})" for d, nano in relational.BENFORD_NANO.items())}
        )
        SELECT digit, n,
               CAST(n AS DOUBLE) / total AS share,
               CAST(exp_n9 AS DOUBLE) / 1000000000.0 AS expected,
               CAST(n * 1000000000 // total - exp_n9 AS BIGINT) AS delta_n9
        FROM counts CROSS JOIN total JOIN expected USING (digit)
        """,
        "Benford first-digit audit: digit from the lossless DECIMAL string "
        "form, expected shares shipped as integer nano-unit literals, delta "
        "in pure integer arithmetic — 9-key partial agg, one broadcast total",
    ),
    "event_transition_matrix": QuerySpec(
        _tables(events.event_transition_matrix),
        """
        WITH seq AS (
            SELECT user_id, event_type,
                   lag(event_type) OVER (PARTITION BY user_id
                                         ORDER BY ts, event_id) AS prev_type
            FROM events
        ), pairs AS (
            SELECT prev_type, event_type AS next_type,
                   CAST(count(*) AS BIGINT) AS n_transitions
            FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
        )
        SELECT prev_type, next_type, n_transitions,
               CAST(n_transitions AS DOUBLE)
                   / sum(n_transitions) OVER (PARTITION BY prev_type) AS p_next
        FROM pairs
        """,
        "First-order Markov transitions: lag over the (ts, event_id) total "
        "order per user, |types|^2 agg, p_next = one division of exact counts",
    ),
    "link_prediction_scores": QuerySpec(
        _tables(graph.link_prediction_scores),
        f"""
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ), adj AS (
            SELECT u AS node, v AS nbr FROM edges
            UNION ALL SELECT v, u FROM edges
        ), deg AS (
            SELECT node, CAST(count(*) AS BIGINT) AS deg FROM adj GROUP BY node
        ), wed AS (
            SELECT a1.nbr AS x, a2.nbr AS y, d.deg AS deg_z
            FROM adj a1
            JOIN adj a2 ON a1.node = a2.node AND a1.nbr < a2.nbr
            JOIN deg d ON d.node = a1.node
            WHERE d.deg <= {graph.LINK_HUB_CAP}
        ), cand AS (
            SELECT x, y, CAST(count(*) AS BIGINT) AS cn,
                   CAST(sum(CAST(floor({float(graph.AA_SCALE)!r}
                        / ln(CAST(deg_z AS DOUBLE))) AS BIGINT)) AS BIGINT)
                       AS aa_micro
            FROM wed GROUP BY x, y HAVING count(*) >= 2
        )
        SELECT c.x AS part_a, c.y AS part_b, c.cn,
               dx.deg AS deg_a, dy.deg AS deg_b,
               CAST(c.cn AS DOUBLE) / (dx.deg + dy.deg - c.cn) AS jaccard,
               c.aa_micro
        FROM cand c
        LEFT JOIN edges e ON c.x = e.u AND c.y = e.v
        JOIN deg dx ON dx.node = c.x
        JOIN deg dy ON dy.node = c.y
        WHERE e.u IS NULL
        """,
        "Link prediction on the co-purchase graph: hub-capped wedge equi-join, "
        "Adamic-Adar quantized to integer micro-units before the sum, jaccard "
        "= one division of exact integers, anti-join keeps non-edges only",
    ),
    "target_encoding_nations": QuerySpec(
        _tables(relational.target_encoding_nations),
        f"""
        WITH per AS (
            SELECT n.n_name AS nation,
                   CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100 AS HUGEINT)
                       AS sum_cents
            FROM orders o
            JOIN customer c ON o.o_custkey = c.c_custkey
            JOIN nation n ON c.c_nationkey = n.n_nationkey
            GROUP BY 1
        ), g AS (
            SELECT nation, n_orders, sum_cents,
                   CAST(sum(n_orders) OVER () AS HUGEINT) AS g_n,
                   CAST(sum(sum_cents) OVER () AS HUGEINT) AS g_sum
            FROM per
        )
        SELECT nation, n_orders,
               CAST(sum_cents AS DOUBLE) / n_orders / 100.0 AS raw_avg,
               CAST(sum_cents * g_n + {relational.TARGET_ENC_M} * g_sum AS DOUBLE)
                   / CAST((n_orders + {relational.TARGET_ENC_M}) * g_n AS DOUBLE)
                   / 100.0 AS enc_value,
               CAST(n_orders * 10000 // (n_orders + {relational.TARGET_ENC_M})
                    AS BIGINT) AS weight_bp
        FROM g
        """,
        "m-estimate target encoding of nation by order value: shrinkage "
        "restated as one division of exact DECIMAL(38,0)/HUGEINT cross-"
        "products; global sums via a window over the 25-row agg frame",
    ),
    "ewma_value": QuerySpec(
        _tables(events.ewma_value),
        f"""
        WITH ranked AS (
            SELECT user_id,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ), recent AS (
            SELECT user_id, cents, rn,
                   ([{", ".join(str(1 << (events.EWMA_K - i)) for i in range(1, events.EWMA_K + 1))}])[rn] AS w
            FROM ranked WHERE rn <= {events.EWMA_K}
        )
        SELECT user_id,
               CAST(count(*) AS INTEGER) AS n_recent,
               CAST(max(CASE WHEN rn = 1 THEN cents END) AS DOUBLE) / 100.0
                   AS last_value,
               CAST(sum(w * cents) AS DOUBLE)
                   / CAST(sum(w) * 100 AS DOUBLE) AS ewma_value
        FROM recent GROUP BY user_id
        """,
        "Bounded-lookback EWMA (a=1/2): literal power-of-two integer weights "
        "times exact cents, pure-integer sums, ONE double division; "
        "(ts, event_id) DESC recency rank",
    ),
    "feature_hashing_stats": QuerySpec(
        _docs(ta.feature_hashing_stats),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, words AS (
            SELECT doc_id, unnest(tk) AS word FROM toks
        ), hashed AS (
            SELECT doc_id, word,
                   {h32_sql('word')} % {ta.FH_DIM} AS dim,
                   ({h32_sql('word', seed=ta.FH_SIGN_SEED)} % 2) * 2 - 1 AS sign
            FROM words
        )
        SELECT dim,
               CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT word) AS BIGINT) AS n_terms,
               CAST(sum(sign) AS BIGINT) AS signed_sum
        FROM hashed GROUP BY dim
        """,
        "Hashing-trick vectorizer profile: h32 % dim buckets with ±1 signs "
        "from an independent seeded hash; occupancy/collision/signed-sum all "
        "exact integers; zero vocabulary state",
    ),
    "zone_map_pruning": QuerySpec(
        _tables(events.zone_map_pruning),
        f"""
        WITH raw AS (
            SELECT CAST(floor(floor(epoch(ts)) / 3600) AS BIGINT) AS h,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS c
            FROM events
        ), bounds AS (
            SELECT min(h) AS hmin, max(h) AS hmax,
                   min(c) AS cmin, max(c) AS cmax
            FROM raw
        ), base AS (
            SELECT {events._normalize16_sql('h', 'hmin', 'hmax', dialect='duck')} AS hb,
                   {events._normalize16_sql('c', 'cmin', 'cmax', dialect='duck')} AS vb
            FROM raw CROSS JOIN bounds
        ), tagged AS (
            SELECT hb, vb,
                   ({events._spread_bits_sql('hb')}
                    | ({events._spread_bits_sql('vb')} << 1)) AS z
            FROM base
        ), per_file AS (
            SELECT layout, file_id,
                   count(*) AS n_rows,
                   min(hb) AS min_h, max(hb) AS max_h,
                   min(vb) AS min_v, max(vb) AS max_v
            FROM (
                SELECT 'time' AS layout, hb // 256 AS file_id, hb, vb FROM tagged
                UNION ALL
                SELECT 'value' AS layout, vb // 256 AS file_id, hb, vb FROM tagged
                UNION ALL
                SELECT 'zorder' AS layout, z // 16777216 AS file_id, hb, vb FROM tagged
            ) GROUP BY layout, file_id
        ), flagged AS (
            SELECT layout, n_rows,
                   (max_h < {events.ZM_PRED_LO} OR min_h > {events.ZM_PRED_HI}) AS skip_t,
                   (max_v < {events.ZM_PRED_LO} OR min_v > {events.ZM_PRED_HI}) AS skip_v
            FROM per_file
        )
        SELECT layout,
               CAST(count(*) AS INTEGER) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN skip_t THEN 1 ELSE 0 END) AS BIGINT) AS pruned_time_files,
               CAST(sum(CASE WHEN skip_v THEN 1 ELSE 0 END) AS BIGINT) AS pruned_value_files,
               CAST(sum(CASE WHEN skip_t OR skip_v THEN 1 ELSE 0 END) AS BIGINT) AS pruned_conj_files,
               CAST(sum(CASE WHEN NOT (skip_t OR skip_v) THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned_conj
        FROM flagged GROUP BY layout
        """,
        "Zone-map pruning evaluation: per-file min/max statistics under "
        "time/value/z-order layouts vs a literal quarter-domain predicate; "
        "all-integer skip counts and surviving row volumes",
    ),
    "wav_frame_features": QuerySpec(
        _docs(multimodal.wav_frame_features),
        None,  # replaced below by the tiled-window builder
        "Windowed audio features over the decoded WAV samples: 1:N window "
        "expansion, exact-integer energy sums, one division per window",
    ),
    "ngram_containment_pairs": QuerySpec(
        _docs(dedup.ngram_containment_pairs),
        f"""
        WITH {_shingles_ctes()}, dsh AS (
            SELECT DISTINCT doc_id, shingle FROM shingles
        ), rare AS (
            SELECT shingle FROM dsh
            GROUP BY shingle HAVING count(*) <= {dedup.CONTAIN_MAX_DF}
        ), kept AS (
            SELECT doc_id, shingle FROM dsh JOIN rare USING (shingle)
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
            FROM kept GROUP BY doc_id
        ), pairs AS (
            SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                   CAST(count(*) AS BIGINT) AS n_common
            FROM kept a
            JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
            GROUP BY 1, 2
        )
        SELECT doc_a, doc_b, n_common,
               sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(n_common AS DOUBLE) / least(sa.n_sh, sb.n_sh) AS containment
        FROM pairs
        JOIN sizes sa ON pairs.doc_a = sa.doc_id
        JOIN sizes sb ON pairs.doc_b = sb.doc_id
        WHERE n_common * 100 >= {dedup.CONTAIN_MIN_PCT} * least(sa.n_sh, sb.n_sh)
        """,
        "Broder containment over distinct 3-gram shingles: absolute-df-capped "
        "equi-join blocking, integer cross-multiplied threshold, containment "
        "= one division of exact integers",
    ),
    "key_skew_profile": QuerySpec(
        _tables(relational.key_skew_profile),
        "\nUNION ALL\n".join(
            f"""
        SELECT '{label}' AS key_name, n_rows, n_keys, max_freq,
               CAST(n_rows AS DOUBLE) / n_keys AS avg_freq,
               CAST(max_freq * 10000 // n_rows AS BIGINT) AS top1_share_bp,
               n_hot_keys,
               CAST(hot_rows * 10000 // n_rows AS BIGINT) AS hot_rows_share_bp
        FROM (
            SELECT CAST(sum(f) AS BIGINT) AS n_rows,
                   CAST(count(*) AS BIGINT) AS n_keys,
                   CAST(max(f) AS BIGINT) AS max_freq
            FROM (SELECT CAST(count(*) AS BIGINT) AS f FROM {table} GROUP BY {col})
        ) t CROSS JOIN (
            SELECT CAST(count(*) AS BIGINT) AS n_hot_keys,
                   CAST(coalesce(sum(f), 0) AS BIGINT) AS hot_rows
            FROM (SELECT CAST(count(*) AS BIGINT) AS f FROM {table} GROUP BY {col}) fr
            CROSS JOIN (
                SELECT CAST(sum(f) AS HUGEINT) AS tot_rows,
                       CAST(count(*) AS HUGEINT) AS tot_keys
                FROM (SELECT CAST(count(*) AS BIGINT) AS f FROM {table} GROUP BY {col})
            ) tt
            WHERE CAST(f AS HUGEINT) * tot_keys > {relational.SKEW_HOT_FACTOR} * tot_rows
        ) h
            """
            for table, col, label in (
                ("lineitem", "l_orderkey", "lineitem.l_orderkey"),
                ("lineitem", "l_partkey", "lineitem.l_partkey"),
                ("orders", "o_custkey", "orders.o_custkey"),
            )
        ),
        "Join-key skew diagnostics: per-key frequency agg (the only key-scale "
        "shuffle), hot-key predicate by integer cross-multiplication in "
        "DECIMAL(38,0)/HUGEINT, shares in integer basis points",
    ),
    "label_propagation_communities": QuerySpec(
        _tables(graph.label_propagation_communities),
        None,  # replaced below by the unrolled-round builder
        "Deterministic synchronous LPA: most-frequent neighbor label with "
        "smallest-label tie-break, fixed round count unrolled in the oracle",
    ),
    "robust_value_anomalies": QuerySpec(
        _tables(events.robust_value_anomalies),
        """
        WITH ev AS (
            SELECT event_id, user_id, event_type, value,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
            FROM events
        ), r1 AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM ev
        ), med AS (
            SELECT event_type,
                   CAST(sum(cents) * (CASE WHEN min(rn) = max(rn) THEN 2 ELSE 1 END)
                        AS BIGINT) AS med2
            FROM r1 WHERE rn BETWEEN (n + 1) // 2 AND (n + 2) // 2
            GROUP BY event_type
        ), dev AS (
            SELECT e.event_id, e.user_id, e.event_type, e.value, e.cents,
                   m.med2, abs(2 * e.cents - m.med2) AS dev2
            FROM ev e JOIN med m USING (event_type)
        ), r2 AS (
            SELECT event_type, dev2,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY dev2, event_id) AS rn,
                   count(*) OVER (PARTITION BY event_type) AS n
            FROM dev
        ), mad AS (
            SELECT event_type,
                   CAST(sum(dev2) * (CASE WHEN min(rn) = max(rn) THEN 2 ELSE 1 END)
                        AS BIGINT) AS mad4
            FROM r2 WHERE rn BETWEEN (n + 1) // 2 AND (n + 2) // 2
            GROUP BY event_type
        )
        SELECT d.event_id, d.user_id, d.event_type, d.value,
               CAST(d.med2 AS DOUBLE) / 200.0 AS med,
               CAST(m.mad4 AS DOUBLE) / 400.0 AS mad,
               CAST(2 * d.dev2 AS DOUBLE) / CAST(NULLIF(m.mad4, 0) AS DOUBLE)
                   AS robust_z
        FROM dev d JOIN mad m USING (event_type)
        WHERE 2 * d.dev2 > 3 * m.mad4
        """,
        "Median/MAD outliers with NO floats until presentation: doubled-cents "
        "exact medians (med2 = lo+hi ranks), integer deviations, the 3·MAD "
        "test as 2·dev2 > 3·mad4 cross-multiplication",
    ),
    "ann_rank_fusion": QuerySpec(
        _emb(similarity.ann_rank_fusion),
        _ann_rrf_sql(10),
        "Reciprocal-rank fusion of the LSH and IVF tiers: integer micro-unit "
        "reciprocal ranks (1e6 div (60+rnk)), exact-integer fused ordering",
    ),
    "seasonality_profile": QuerySpec(
        _tables(events.seasonality_profile),
        """
        WITH per AS (
            SELECT event_type,
                   CAST(hour(ts) AS INTEGER) AS hour_of_day,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(CAST(value AS DECIMAL(12,2))) * 100 AS HUGEINT)
                       AS sum_cents
            FROM events GROUP BY 1, 2
        ), g AS (
            SELECT event_type, hour_of_day, n, sum_cents,
                   CAST(sum(n) OVER (PARTITION BY event_type) AS HUGEINT) AS n_tot,
                   CAST(sum(sum_cents) OVER (PARTITION BY event_type) AS HUGEINT)
                       AS sum_tot
            FROM per
        )
        SELECT event_type, hour_of_day, n,
               CAST(sum_cents AS DOUBLE) / CAST(n * 100 AS DOUBLE) AS avg_value,
               CAST((sum_cents * n_tot * 10000) // (n * sum_tot) - 10000
                    AS BIGINT) AS rel_dev_bp
        FROM g
        """,
        "Hour-of-day seasonality per type: relative deviation in basis points "
        "by HUGEINT/DECIMAL(38,0) cross-multiplication, avg = one division",
    ),
    "burst_hours": QuerySpec(
        _tables(events.burst_hours),
        f"""
        WITH hourly AS (
            SELECT event_type,
                   date_trunc('hour', ts) AS bucket_ts,
                   CAST(count(*) AS BIGINT) AS n,
                   CAST(floor(floor(epoch(date_trunc('hour', ts)))) AS BIGINT) // 3600
                       AS hour_idx
            FROM events GROUP BY 1, 2
        ), trailed AS (
            SELECT event_type, bucket_ts, n,
                   CAST(coalesce(sum(n) OVER (
                       PARTITION BY event_type ORDER BY hour_idx
                       RANGE BETWEEN 24 PRECEDING AND 1 PRECEDING
                   ), 0) AS BIGINT) AS trailing_n
            FROM hourly
        )
        SELECT event_type, bucket_ts, n, trailing_n,
               CAST(n * 24 * 10000 // trailing_n AS BIGINT) AS ratio_bp
        FROM trailed
        WHERE trailing_n > 0 AND n * 24 > {events.BURST_FACTOR} * trailing_n
        """,
        "Burst detection: RANGE-frame trailing-24h sums over the integer hour "
        "index (gap hours count zero), integer cross-multiplied burst test",
    ),
    "prefix_filter_jaccard_pairs": QuerySpec(
        _docs(dedup.prefix_filter_jaccard_pairs),
        f"""
        WITH {_shingles_ctes()}, dsh AS (
            SELECT DISTINCT doc_id, shingle FROM shingles
        ), dfreq AS (
            SELECT shingle, count(*) AS df FROM dsh GROUP BY shingle
        ), ranked AS (
            SELECT doc_id, shingle,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY df ASC, shingle ASC) AS rn,
                   count(*) OVER (PARTITION BY doc_id) AS n_sh
            FROM dsh JOIN dfreq USING (shingle)
        ), prefix AS (
            SELECT doc_id, shingle FROM ranked
            WHERE rn <= n_sh - ((n_sh * {dedup.PREFIX_T_BP} + 9999) // 10000) + 1
        ), cand AS (
            SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
            FROM prefix a
            JOIN prefix b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        ), common AS (
            SELECT c.doc_a, c.doc_b, CAST(count(*) AS BIGINT) AS n_common
            FROM cand c
            JOIN dsh fa ON fa.doc_id = c.doc_a
            JOIN dsh fb ON fb.doc_id = c.doc_b AND fb.shingle = fa.shingle
            GROUP BY 1, 2
        ), sizes AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh
            FROM dsh GROUP BY doc_id
        )
        SELECT doc_a, doc_b, n_common,
               sa.n_sh AS n_a, sb.n_sh AS n_b,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
        FROM common
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE n_common * 10000
              >= {dedup.PREFIX_T_BP} * (sa.n_sh + sb.n_sh - n_common)
        """,
        "PPJoin positional prefix filtering: rarity-ordered prefixes "
        "(df asc, shingle asc), integer ceil via (n·t+9999) div 10⁴, exact "
        "full-set verification — lossless vs the naive equi-join by theorem "
        "AND by test",
    ),
    "dq_rule_violations": QuerySpec(
        _tables(relational.dq_rule_violations),
        """
        SELECT 'orders' AS table_name, r.rule,
               CAST(t.n AS BIGINT) AS n_checked,
               CAST(r.v AS BIGINT) AS n_violations,
               CAST(r.v * 10000 // t.n AS BIGINT) AS viol_bp
        FROM (
            SELECT count(*) AS n,
                   coalesce(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END), 0) AS v0,
                   coalesce(sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END), 0) AS v1,
                   coalesce(sum(CASE WHEN o_orderdate > TIMESTAMP '1998-12-31 00:00:00' THEN 1 ELSE 0 END), 0) AS v2
            FROM orders
        ) t CROSS JOIN (
            VALUES ('totalprice_nonpositive', 0), ('orderstatus_domain', 1),
                   ('orderdate_future', 2)
        ) ri(rule, i)
        CROSS JOIN LATERAL (SELECT CASE ri.i WHEN 0 THEN t.v0 WHEN 1 THEN t.v1 ELSE t.v2 END AS v, ri.rule AS rule) r
        UNION ALL
        SELECT 'lineitem', r.rule, CAST(t.n AS BIGINT),
               CAST(r.v AS BIGINT), CAST(r.v * 10000 // t.n AS BIGINT)
        FROM (
            SELECT count(*) AS n,
                   coalesce(sum(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END), 0) AS v0,
                   coalesce(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END), 0) AS v1,
                   coalesce(sum(CASE WHEN l_tax < 0 OR l_tax > 1 THEN 1 ELSE 0 END), 0) AS v2
            FROM lineitem
        ) t CROSS JOIN (
            VALUES ('quantity_nonpositive', 0), ('discount_range', 1), ('tax_range', 2)
        ) ri(rule, i)
        CROSS JOIN LATERAL (SELECT CASE ri.i WHEN 0 THEN t.v0 WHEN 1 THEN t.v1 ELSE t.v2 END AS v, ri.rule AS rule) r
        UNION ALL
        SELECT 'documents', 'n_chars_mismatch', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END), 0) * 10000 // count(*) AS BIGINT)
        FROM documents
        UNION ALL
        SELECT 'events', 'value_negative', CAST(count(*) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0) AS BIGINT),
               CAST(coalesce(sum(CASE WHEN value < 0 THEN 1 ELSE 0 END), 0) * 10000 // count(*) AS BIGINT)
        FROM events
        """,
        "Domain/range/consistency DQ rules: all of a table's rules in ONE "
        "scan (stack unpivot), exact counts + integer basis points; FK edges "
        "stay with referential_audit",
    ),
    "multitouch_attribution": QuerySpec(
        _tables(events.multitouch_attribution),
        f"""
        WITH ev AS (
            SELECT user_id, event_type,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                   CAST(floor(floor(epoch(ts))) AS BIGINT) AS secs
            FROM events
        ), counted AS (
            SELECT event_type, cents,
                   count(CASE WHEN event_type_w = 'click' THEN 1 END)
                       OVER w AS n_click,
                   count(CASE WHEN event_type_w = 'view' THEN 1 END)
                       OVER w AS n_view
            FROM (SELECT *, event_type AS event_type_w FROM ev)
            WINDOW w AS (PARTITION BY user_id ORDER BY secs
                         RANGE BETWEEN {events.ATTRIB_WINDOW_SEC} PRECEDING
                               AND 1 PRECEDING)
        ), purchases AS (
            SELECT cents, n_click, n_view, n_click + n_view AS n_touches
            FROM counted WHERE event_type = 'purchase'
        ), attributed AS (
            -- floor-credit per type; the remainder goes to the
            -- lexicographically first type that actually touched
            SELECT cents, n_click, n_view,
                   cents * 10000 * n_click // n_touches AS micro_click,
                   cents * 10000 * n_view // n_touches AS micro_view,
                   CASE WHEN n_click > 0 THEN 'click' ELSE 'view' END
                       AS first_tt
            FROM purchases WHERE n_touches > 0
        ), legs AS (
            SELECT 'click' AS touch_type,
                   CASE WHEN n_click > 0 THEN 1 ELSE 0 END AS touched,
                   micro_click + CASE WHEN first_tt = 'click'
                       THEN cents * 10000 - micro_click - micro_view
                       ELSE 0 END AS micro
            FROM attributed
            UNION ALL
            SELECT 'view',
                   CASE WHEN n_view > 0 THEN 1 ELSE 0 END,
                   micro_view + CASE WHEN first_tt = 'view'
                       THEN cents * 10000 - micro_click - micro_view
                       ELSE 0 END
            FROM attributed
            UNION ALL
            SELECT 'unattributed', 1, cents * 10000
            FROM purchases WHERE n_touches = 0
        )
        SELECT touch_type,
               CAST(sum(touched) AS BIGINT) AS n_purchases,
               CAST(sum(micro) AS BIGINT) AS attributed_microcents,
               CAST(sum(micro) AS DOUBLE) / 1000000.0 AS attributed_value
        FROM legs GROUP BY touch_type
        """,
        "Linear multi-touch attribution: conditional counts over ONE value-"
        "based RANGE frame (no time-range self-join), per-type credit as one "
        "integer floor division per purchase with the remainder assigned to "
        "the first touching type — mass conserved exactly, incl. the "
        "unattributed row",
    ),
    "inter_event_gaps": QuerySpec(
        _tables(events.inter_event_gaps),
        """
        WITH gaps AS (
            SELECT event_type,
                   epoch_us(ts) - lag(epoch_us(ts)) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                   ) AS gap_us
            FROM events
        )
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_gaps,
               CAST(sum(gap_us) AS DOUBLE)
                   / CAST(count(*) * 1000000 AS BIGINT) AS mean_gap_secs,
               CAST(max(gap_us) AS BIGINT) AS max_gap_us,
               CAST(min(gap_us) AS BIGINT) AS min_gap_us
        FROM gaps WHERE gap_us IS NOT NULL GROUP BY event_type
        """,
        "Inter-arrival gaps per type: exact integer microsecond lags over the "
        "(ts, event_id) total order, mean = one division",
    ),
    "frequent_triples": QuerySpec(
        _tables(relational.frequent_triples),
        f"""
        WITH op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), pairs AS (
            SELECT a.l_orderkey, a.l_partkey AS part_a, b.l_partkey AS part_b
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
            WHERE a.l_partkey < b.l_partkey
        ), triples AS (
            -- the cross-table inequality (part_b < c.l_partkey) lives
            -- in WHERE, not ON: inside a 3-way ON chain DuckDB plans it
            -- as an IEJoin between the pair stream and op (measured
            -- >300 s at sf1.0 vs 3 s for the identical inner join with
            -- the equality alone driving the hash join)
            SELECT p.part_a, p.part_b, c.l_partkey AS part_c,
                   CAST(count(*) AS BIGINT) AS n_orders
            FROM pairs p
            JOIN op c ON p.l_orderkey = c.l_orderkey
            WHERE p.part_b < c.l_partkey
            GROUP BY 1, 2, 3
            HAVING count(*) >= {relational.TRIPLE_MIN_ORDERS}
        ), total AS (
            SELECT CAST(count(*) AS BIGINT) AS total_orders FROM orders
        )
        SELECT part_a, part_b, part_c, n_orders,
               CAST(n_orders * 10000 // total_orders AS BIGINT) AS support_bp
        FROM triples CROSS JOIN total
        """,
        "Frequent 3-itemsets: two chained order-key self-joins with ascending "
        "part ordering — fan-out bounded at C(items-per-order, 3), linear in "
        "lineitems; support in integer basis points",
    ),
    "label_centroid_drift": QuerySpec(
        _emb(similarity.label_centroid_drift),
        f"""
        WITH q AS (
            SELECT label, u.pos AS pos, u.q AS q FROM (
                SELECT label,
                       unnest(list_transform(range(1, len(e) + 1),
                              i -> struct_pack(pos := i,
                                   q := {_q_sql('e[CAST(i AS INTEGER)]')}))) AS u
                FROM (SELECT label, {_EMB_SQL} AS e FROM embeddings)
            )
        ), sums AS (
            SELECT label, pos, CAST(sum(q) AS BIGINT) AS s FROM q GROUP BY 1, 2
        ), lv AS (
            SELECT label,
                   list_transform(list(s ORDER BY pos), v -> CAST(v AS DOUBLE)) AS vec
            FROM sums GROUP BY label
        ), gv AS (
            SELECT list_transform(list(s ORDER BY pos), v -> CAST(v AS DOUBLE)) AS gvec
            FROM (SELECT pos, CAST(sum(s) AS BIGINT) AS s FROM sums GROUP BY pos)
        ), counts AS (
            SELECT label, CAST(count(*) AS BIGINT) AS n_vecs
            FROM embeddings GROUP BY label
        ), total AS (
            SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total FROM counts
        )
        SELECT CAST(l.label AS INTEGER) AS label, c.n_vecs,
               {_cosine_sql('l.vec', 'g.gvec')} AS cos_to_global,
               (sqrt(list_dot_product(l.vec, l.vec)) * CAST(t.n_total AS DOUBLE))
               / (CAST(c.n_vecs AS DOUBLE) * sqrt(list_dot_product(g.gvec, g.gvec)))
                   AS norm_ratio
        FROM lv l
        JOIN counts c USING (label)
        CROSS JOIN gv g CROSS JOIN total t
        """,
        "Per-label embedding drift: integer micro-unit dimension sums (exact, "
        "partition-invariant), cosine computed on the sum vectors (scale-"
        "invariance makes mean centroids unnecessary), norm ratio rescaled by "
        "exact counts",
    ),
    "bootstrap_ci_mean": QuerySpec(
        _tables(relational.bootstrap_ci_mean),
        f"""
        WITH draws AS (
            SELECT CAST(CAST(o_totalprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   rep,
                   {h32_sql("(CAST(o_orderkey AS VARCHAR) || '|' || CAST(rep AS VARCHAR))")}
                       AS draw
            FROM orders
            CROSS JOIN (SELECT unnest(range({relational.BOOT_B})) AS rep)
        ), mult AS (
            SELECT rep, cents,
                   CASE
                       WHEN draw < {relational.POISSON_T[0]} THEN 0
                       WHEN draw < {relational.POISSON_T[1]} THEN 1
                       WHEN draw < {relational.POISSON_T[2]} THEN 2
                       WHEN draw < {relational.POISSON_T[3]} THEN 3
                       WHEN draw < {relational.POISSON_T[4]} THEN 4
                       ELSE 5
                   END AS m
            FROM draws
        ), reps AS (
            -- all-zero-multiplicity replicates are dropped on BOTH
            -- sides (0/0 NULL would rank differently across engines)
            SELECT rep,
                   CAST(sum(m * cents) AS DOUBLE)
                       / CAST(sum(m) * 100 AS BIGINT) AS rep_mean
            FROM mult GROUP BY rep HAVING sum(m) > 0
        ), bounds AS (
            SELECT min(rep_mean) AS ci_lo,
                   max(rep_mean) AS ci_hi
            FROM reps
        ), point AS (
            SELECT CAST(count(*) AS BIGINT) AS n_orders,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS HUGEINT) AS DOUBLE)
                       / CAST(count(*) * 100 AS BIGINT) AS mean_value
            FROM orders
        )
        SELECT n_orders, mean_value, ci_lo, ci_hi,
               CAST({relational.BOOT_B} AS INTEGER) AS n_replicates
        FROM point CROSS JOIN bounds
        """,
        "Deterministic Poisson bootstrap: multiplicities from portable hash "
        "draws vs integer-quantized Poisson CDF literals (no exp, no rand); "
        "replicate sums exact cents, each mean one division, CI = order "
        "statistics of the replicate means",
    ),
    "abandoned_clicks": QuerySpec(
        _tables(events.abandoned_clicks),
        f"""
        WITH ev AS (
            SELECT user_id, event_type,
                   CAST(ts AS DATE) AS day,
                   CAST(floor(floor(epoch(ts))) AS BIGINT) AS secs
            FROM events
        ), flagged AS (
            SELECT event_type, day,
                   count(CASE WHEN event_type_w = 'purchase' THEN 1 END) OVER (
                       PARTITION BY user_id ORDER BY secs
                       RANGE BETWEEN 1 FOLLOWING
                             AND {events.ABANDON_WINDOW_SEC} FOLLOWING
                   ) AS n_purch_next
            FROM (SELECT *, event_type AS event_type_w FROM ev)
        )
        SELECT day,
               CAST(count(*) AS BIGINT) AS n_clicks,
               CAST(sum(CASE WHEN n_purch_next = 0 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_abandoned,
               CAST(sum(CASE WHEN n_purch_next = 0 THEN 1 ELSE 0 END) * 10000
                    // count(*) AS BIGINT) AS abandon_bp
        FROM flagged WHERE event_type = 'click' GROUP BY day
        """,
        "Click abandonment: lookahead purchase count over a value-based "
        "RANGE frame (no self-join), exact counts, integer basis points",
    ),
    "weekly_growth": QuerySpec(
        _tables(events.weekly_growth),
        """
        WITH weekly AS (
            SELECT date_trunc('week', o_orderdate) AS week,
                   CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(12,2))) * 100
                        AS HUGEINT) AS BIGINT) AS cents
            FROM orders GROUP BY 1
        )
        SELECT week,
               CAST(cents AS DOUBLE) / 100.0 AS revenue,
               CAST((cents - lag(cents) OVER (ORDER BY week)) * 10000
                    // lag(cents) OVER (ORDER BY week) AS BIGINT) AS growth_bp
        FROM weekly
        """,
        "Week-over-week growth: exact decimal cent sums, growth in pure "
        "integer basis points via lag over the week series",
    ),
    "weighted_median_price": QuerySpec(
        _tables(relational.weighted_median_price),
        f"""
        WITH li AS (
            SELECT l_returnflag,
                   CAST(CAST(l_extendedprice AS DECIMAL(12,2)) * 100 AS BIGINT)
                       AS cents,
                   CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS w,
                   l_orderkey, l_linenumber
            FROM lineitem
        ), cum AS (
            SELECT l_returnflag, cents, w,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag
                                     ORDER BY cents, l_orderkey, l_linenumber)
                        AS BIGINT) AS cum_w,
                   CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT)
                       AS total_w
            FROM li
        ), crossed AS (
            SELECT *, row_number() OVER (PARTITION BY l_returnflag
                                         ORDER BY cum_w, cents) AS rn
            FROM cum WHERE cum_w * 10000 >= {relational.WEIGHTED_P_BP} * total_w
        )
        SELECT l_returnflag,
               CAST(cents AS DOUBLE) / 100.0 AS weighted_median_price,
               CAST(total_w AS DOUBLE) / 100.0 AS total_units
        FROM crossed WHERE rn = 1
        """,
        "Quantity-weighted median price: integer centi-unit cumulative "
        "weights, crossing test by integer cross-multiplication, reported "
        "price = one division by a literal",
    ),
    "log2_value_histogram": QuerySpec(
        _tables(events.log2_value_histogram),
        """
        WITH ev AS (
            SELECT event_type,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
            FROM events
        ), per AS (
            SELECT event_type,
                   CAST(CASE WHEN cents > 0 THEN length(bin(cents)) - 1
                             ELSE -1 END AS INTEGER) AS bucket,
                   CAST(count(*) AS BIGINT) AS n
            FROM ev GROUP BY 1, 2
        )
        SELECT event_type, bucket,
               CASE WHEN bucket >= 0 THEN CAST(CAST(1 AS BIGINT) << bucket AS BIGINT)
                    ELSE NULL END AS lo_cents,
               n,
               CAST(n * 10000 // sum(n) OVER (PARTITION BY event_type) AS BIGINT)
                   AS share_bp
        FROM per
        """,
        "HDR-style log2 histogram: bucket = bit length of integer cents "
        "(no float log2), exact 2^k bounds, integer basis-point shares",
    ),
    "language_id_confusion": QuerySpec(
        _docs(ta.language_id_confusion),
        None,  # replaced below — wraps the language_id core builder
        "Language-ID confusion matrix: the classifier-eval harness; the "
        "prediction leg is language_id reused verbatim, shares in integer "
        "basis points of the labeled row",
    ),
    "oov_rate_scores": QuerySpec(
        _docs(ta.oov_rate_scores),
        f"""
        WITH {_toks_cte('documents', 'doc_id')}, words AS (
            SELECT doc_id, unnest(tk) AS word FROM toks
        ), vocab AS (
            SELECT word FROM (
                SELECT word,
                       row_number() OVER (ORDER BY count(*) DESC, word ASC) AS rn
                FROM words GROUP BY word
            ) WHERE rn <= {ta.OOV_VOCAB_K}
        ), per AS (
            SELECT w.doc_id,
                   CAST(count(*) AS BIGINT) AS n_tokens,
                   CAST(sum(CASE WHEN v.word IS NULL THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_oov
            FROM words w LEFT JOIN vocab v USING (word)
            GROUP BY w.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(n_tokens, 0) AS BIGINT) AS n_tokens,
               CAST(coalesce(n_oov, 0) AS BIGINT) AS n_oov,
               CASE WHEN coalesce(n_tokens, 0) > 0
                    THEN CAST(coalesce(n_oov, 0) * 10000 // n_tokens AS BIGINT)
               END AS oov_bp
        FROM documents d LEFT JOIN per USING (doc_id)
        """,
        "Per-doc OOV rate vs the deterministic top-k head vocabulary "
        "(count DESC, word ASC TakeOrdered, broadcast back); exact counts, "
        "basis points, zero-token docs preserved with NULL rate",
    ),
    "domain_stats": QuerySpec(
        _docs(ta.domain_stats),
        f"""
        WITH base AS (
            SELECT regexp_extract(source, '^[a-z]+://([^/]+)', 1) AS domain,
                   lang, n_chars,
                   {text_fingerprint_sql("text")} AS fp
            FROM documents
        )
        SELECT domain,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(count(*) - count(DISTINCT fp) AS BIGINT) AS n_dup_docs,
               CAST((count(*) - count(DISTINCT fp)) * 10000 // count(*)
                    AS BIGINT) AS dup_bp
        FROM base GROUP BY domain
        """,
        "Per-domain corpus ledger: portable URL-host regex, md5-fingerprint "
        "within-domain dup rate, exact counts + integer basis points",
    ),
    "token_budget_allocation": QuerySpec(
        _docs(curation.token_budget_allocation),
        f"""
        WITH lang_tok AS (
            SELECT lang, CAST(sum(len({TOKENS_SQL})) AS BIGINT) AS lang_tokens
            FROM documents GROUP BY lang
        ), sized AS (
            SELECT lang, lang_tokens,
                   CAST(sum(lang_tokens) OVER () AS BIGINT) AS corpus_tokens
            FROM lang_tok
        ), quotas AS (
            SELECT lang, lang_tokens,
                   CAST(lang_tokens * 10000 // corpus_tokens AS BIGINT) AS share_bp,
                   CAST(CAST({curation.TOKEN_BUDGET} AS BIGINT) * lang_tokens
                        // corpus_tokens AS BIGINT) AS base_quota,
                   CAST((CAST({curation.TOKEN_BUDGET} AS BIGINT) * lang_tokens)
                        % corpus_tokens AS BIGINT) AS rem
            FROM sized
        ), ranked AS (
            SELECT lang, lang_tokens, share_bp, base_quota,
                   CAST(row_number() OVER (ORDER BY rem DESC, lang ASC)
                        AS BIGINT) AS rk,
                   CAST({curation.TOKEN_BUDGET} - sum(base_quota) OVER ()
                        AS BIGINT) AS leftover
            FROM quotas
        )
        SELECT lang, lang_tokens, share_bp, base_quota,
               CAST(base_quota + CASE WHEN rk <= leftover THEN 1 ELSE 0 END
                    AS BIGINT) AS quota
        FROM ranked
        """,
        "Largest-remainder apportionment of a fixed token budget across "
        "languages: pure integer quotas that sum to the budget exactly, "
        "remainder ranks tie-broken by lang — partition/engine-invariant",
    ),
    "compaction_plan": QuerySpec(
        _tables(events.compaction_plan),
        f"""
        WITH files AS (
            SELECT CAST(date_trunc('day', ts) AS DATE) AS day,
                   CAST(extract(hour FROM ts) AS INTEGER) AS hour,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(count(*) * {events.COMPACT_ROW_BYTES} AS BIGINT) AS bytes
            FROM events GROUP BY 1, 2
        ), binned AS (
            SELECT day, hour, n_rows, bytes,
                   CAST(floor(COALESCE(CAST(sum(bytes) OVER (
                            PARTITION BY day ORDER BY hour
                            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                        AS BIGINT), 0) / {events.COMPACT_TARGET_BYTES})
                        AS INTEGER) AS file_group
            FROM files
        )
        SELECT day, file_group,
               CAST(count(*) AS INTEGER) AS n_files,
               CAST(sum(n_rows) AS BIGINT) AS n_rows,
               CAST(sum(bytes) AS BIGINT) AS bytes,
               CAST(min(hour) AS INTEGER) AS hour_lo,
               CAST(max(hour) AS INTEGER) AS hour_hi
        FROM binned GROUP BY day, file_group
        """,
        "Compaction planner (Delta OPTIMIZE shape): per-day hourly files "
        "bin-packed into target-size rewrite groups via the pack_sequences "
        "preceding-cumsum bin rule — deterministic, metadata-sized",
    ),
    "state_snapshot_diff": QuerySpec(
        _tables(events.state_snapshot_diff),
        f"""
        WITH cutoff AS (
            SELECT max(ts) - INTERVAL {events.SNAPSHOT_LOOKBACK_HOURS} HOUR
                   AS cutoff_ts
            FROM events
        ), snap_old AS (
            SELECT user_id, event_id AS old_event_id,
                   event_type AS old_event_type, ts AS old_ts
            FROM (SELECT user_id, event_id, event_type, ts,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC)
                             AS rn
                  FROM events
                  WHERE ts < (SELECT cutoff_ts FROM cutoff)) s
            WHERE rn = 1
        ), snap_new AS (
            SELECT user_id, event_id AS new_event_id,
                   event_type AS new_event_type, ts AS new_ts
            FROM (SELECT user_id, event_id, event_type, ts,
                         row_number() OVER (PARTITION BY user_id
                                            ORDER BY ts DESC, event_id DESC)
                             AS rn
                  FROM events) s
            WHERE rn = 1
        )
        SELECT n.user_id,
               CASE WHEN o.old_event_id IS NULL THEN 'added'
                    WHEN o.old_event_id = n.new_event_id THEN 'unchanged'
                    ELSE 'changed' END AS change_type,
               o.old_event_type, n.new_event_type, o.old_ts, n.new_ts
        FROM snap_new n LEFT JOIN snap_old o ON n.user_id = o.user_id
        """,
        "CDC snapshot reconciliation: latest-event state at max(ts)-8h vs "
        "now, diff class per user via the (ts DESC, event_id DESC) unique "
        "total order — added/changed/unchanged, no floats in the class",
    ),
    "pq_reconstruction_error": QuerySpec(
        _emb(similarity.pq_reconstruction_error),
        _pq_recon_sql(),
        "Per-(subspace, code) PQ reconstruction MSE: assignment reuses the "
        "shared pq_assign/_pq_codes_ctes builders; errors are exact integer "
        "micro-unit sums (the label_centroid_drift quantization), mse one "
        "fixed division chain",
    ),
    "erasure_plan": QuerySpec(
        _tables(events.erasure_plan),
        f"""
        WITH flagged AS (
            SELECT user_id, 1 AS flagged FROM (
                SELECT user_id, event_type,
                       row_number() OVER (PARTITION BY user_id
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) s WHERE rn = 1 AND event_type = 'error'
        ), marked AS (
            SELECT CAST(date_trunc('day', e.ts) AS DATE) AS day,
                   e.user_id, COALESCE(f.flagged, 0) AS flagged
            FROM events e LEFT JOIN flagged f ON e.user_id = f.user_id
        ), per AS (
            SELECT day,
                   CAST(count(*) AS BIGINT) AS n_rows,
                   CAST(sum(flagged) AS BIGINT) AS n_rows_affected,
                   CAST(count(DISTINCT CASE WHEN flagged = 1 THEN user_id END)
                        AS BIGINT) AS n_users_affected
            FROM marked GROUP BY day
        )
        SELECT day, n_rows, n_rows_affected, n_users_affected,
               CAST(n_rows_affected * 10000 // n_rows AS BIGINT) AS affected_bp,
               CASE WHEN n_rows_affected * 10000 // n_rows >= {events.ERASURE_REWRITE_BP}
                    THEN 'rewrite' ELSE 'deletion_vector' END AS action
        FROM per
        """,
        "GDPR erasure planner: flagged users from the latest-event total "
        "order, per-day affected shares in integer basis points, rewrite-vs-"
        "deletion-vector decision by integer threshold",
    ),
    "ab_test_conversion": QuerySpec(
        _tables(events.ab_test_conversion),
        f"""
        WITH per_user AS (
            SELECT user_id,
                   max(CASE WHEN event_type = 'purchase'
                             AND value > {events.AB_CONV_VALUE!r}
                            THEN 1 ELSE 0 END) AS conv
            FROM events GROUP BY user_id
        ), per_arm AS (
            SELECT CASE WHEN {h32_sql("(CAST(user_id AS VARCHAR) || '|ab')")} % 2 = 0
                        THEN 'control' ELSE 'treatment' END AS arm,
                   CAST(count(*) AS BIGINT) AS n_users,
                   CAST(sum(conv) AS BIGINT) AS n_conv
            FROM per_user GROUP BY 1
        ), wide AS (
            SELECT CAST(sum(CASE WHEN arm = 'control' THEN n_users END) AS BIGINT)
                       AS n_users_control,
                   CAST(sum(CASE WHEN arm = 'control' THEN n_conv END) AS BIGINT)
                       AS n_conv_control,
                   CAST(sum(CASE WHEN arm = 'treatment' THEN n_users END) AS BIGINT)
                       AS n_users_treatment,
                   CAST(sum(CASE WHEN arm = 'treatment' THEN n_conv END) AS BIGINT)
                       AS n_conv_treatment
            FROM per_arm
        )
        SELECT n_users_control, n_conv_control,
               CAST(n_conv_control * 10000 // n_users_control AS BIGINT)
                   AS conv_control_bp,
               n_users_treatment, n_conv_treatment,
               CAST(n_conv_treatment * 10000 // n_users_treatment AS BIGINT)
                   AS conv_treatment_bp,
               CAST(n_conv_treatment * 10000 // n_users_treatment
                    - n_conv_control * 10000 // n_users_control AS BIGINT)
                   AS lift_bp,
               CASE WHEN n_conv_treatment + n_conv_control = 0
                      OR n_conv_treatment + n_conv_control
                         = n_users_treatment + n_users_control THEN NULL
               ELSE (CAST(n_conv_treatment AS DOUBLE) / n_users_treatment
                - CAST(n_conv_control AS DOUBLE) / n_users_control)
               / sqrt((CAST(n_conv_treatment + n_conv_control AS DOUBLE)
                       / (n_users_treatment + n_users_control))
                      * (1.0 - CAST(n_conv_treatment + n_conv_control AS DOUBLE)
                             / (n_users_treatment + n_users_control))
                      * (1.0 / n_users_treatment + 1.0 / n_users_control))
               END AS z_score
        FROM wide
        """,
        "Deterministic A/B readout: portable-hash arm assignment, exact "
        "integer conversion counts, lift in basis points, pooled two-"
        "proportion z as one fixed double chain from exact integers",
    ),
}


def _kmv_quantile_sql() -> str:
    """Oracle twin of events.kmv_quantile_sketch: the same hash-order
    sample bound (h64 over event_id), the same integer-cross-multiplied
    rank crossing (the weighted_median rule), one UNION ALL leg per
    evaluated quantile on each side."""
    k = events.QSKETCH_K
    est_legs = "\n            UNION ALL\n            ".join(
        f"""SELECT event_type, CAST({q} AS INTEGER) AS q_bp,
                       est_cents, n_sample FROM (
                SELECT event_type, cents AS est_cents, n_sk AS n_sample,
                       row_number() OVER (PARTITION BY event_type ORDER BY r)
                           AS rn2
                FROM ranked WHERE r * 10000 >= {q} * n_sk) x{q} WHERE rn2 = 1"""
        for q in events.QSKETCH_QUANTILES_BP
    )
    exact_legs = "\n            UNION ALL\n            ".join(
        f"""SELECT event_type, CAST({q} AS INTEGER) AS q_bp,
                       exact_cents FROM (
                SELECT event_type, cents AS exact_cents,
                       row_number() OVER (PARTITION BY event_type ORDER BY r)
                           AS rn2
                FROM exact_ranked WHERE r * 10000 >= {q} * n_all) y{q}
            WHERE rn2 = 1"""
        for q in events.QSKETCH_QUANTILES_BP
    )
    return f"""
        WITH ev AS (
            SELECT event_type, event_id,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                   {h64_sql("CAST(event_id AS VARCHAR)")} AS h
            FROM events
        ), sample AS (
            SELECT event_type, cents, event_id FROM (
                SELECT event_type, cents, event_id,
                       row_number() OVER (PARTITION BY event_type
                                          ORDER BY h, event_id) AS rn
                FROM ev) s
            WHERE rn <= {k}
        ), ranked AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS r,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n_sk
            FROM sample
        ), exact_ranked AS (
            SELECT event_type, cents,
                   row_number() OVER (PARTITION BY event_type
                                      ORDER BY cents, event_id) AS r,
                   CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n_all
            FROM ev
        ), est AS (
            {est_legs}
        ), ex AS (
            {exact_legs}
        )
        SELECT e.event_type, e.q_bp,
               CAST(e.n_sample AS BIGINT) AS n_sample,
               CAST(e.est_cents AS DOUBLE) / 100.0 AS est_value,
               CAST(x.exact_cents AS DOUBLE) / 100.0 AS exact_value,
               CASE WHEN x.exact_cents = 0 THEN NULL
                    ELSE CAST(abs(e.est_cents - x.exact_cents) * 10000
                              // x.exact_cents AS BIGINT) END AS err_bp
        FROM est e JOIN ex x ON e.event_type = x.event_type
                            AND e.q_bp = x.q_bp
        """


def _kmv_rollup_sql() -> str:
    """Oracle twin of events.kmv_quantile_rollup_merge: day-grain
    k-smallest-hash samples rolled up to weeks by union + re-take-k vs
    the week sample straight from raw — the hash pins the merge
    identity bit-for-bit (min-k under the (h, event_id) total order is
    associative). Same construction as _kmv_quantile_sql: integer
    cents, integer rank crossing, one UNION leg per quantile."""
    k = events.QSKETCH_K

    def legs(src: str, alias: str) -> str:
        return "\n            UNION ALL\n            ".join(
            f"""SELECT week, event_type, CAST({q} AS INTEGER) AS q_bp,
                       cents AS {alias}_cents, n_sk AS n_{alias} FROM (
                SELECT week, event_type, cents, n_sk,
                       row_number() OVER (PARTITION BY week, event_type
                                          ORDER BY r) AS rn2
                FROM {src} WHERE r * 10000 >= {q} * n_sk) {alias}{q}
            WHERE rn2 = 1"""
            for q in events.QSKETCH_QUANTILES_BP
        )

    return f"""
        WITH ev AS (
            SELECT date_trunc('week', ts) AS week,
                   date_trunc('day', ts) AS day,
                   event_type, event_id,
                   CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
                   {h64_sql("CAST(event_id AS VARCHAR)")} AS h
            FROM events
        ), day_sk AS (
            SELECT week, event_type, event_id, cents, h FROM (
                SELECT week, event_type, event_id, cents, h,
                       row_number() OVER (PARTITION BY event_type, day
                                          ORDER BY h, event_id) AS rn
                FROM ev) s WHERE rn <= {k}
        ), merged AS (
            SELECT week, event_type, event_id, cents FROM (
                SELECT week, event_type, event_id, cents,
                       row_number() OVER (PARTITION BY event_type, week
                                          ORDER BY h, event_id) AS rn
                FROM day_sk) s WHERE rn <= {k}
        ), direct AS (
            SELECT week, event_type, event_id, cents FROM (
                SELECT week, event_type, event_id, cents,
                       row_number() OVER (PARTITION BY event_type, week
                                          ORDER BY h, event_id) AS rn
                FROM ev) s WHERE rn <= {k}
        ), m_ranked AS (
            SELECT week, event_type, cents,
                   row_number() OVER (PARTITION BY week, event_type
                                      ORDER BY cents, event_id) AS r,
                   CAST(count(*) OVER (PARTITION BY week, event_type)
                        AS BIGINT) AS n_sk
            FROM merged
        ), d_ranked AS (
            SELECT week, event_type, cents,
                   row_number() OVER (PARTITION BY week, event_type
                                      ORDER BY cents, event_id) AS r,
                   CAST(count(*) OVER (PARTITION BY week, event_type)
                        AS BIGINT) AS n_sk
            FROM direct
        ), est_m AS (
            {legs("m_ranked", "merged")}
        ), est_d AS (
            {legs("d_ranked", "direct")}
        )
        SELECT m.week, m.event_type, m.q_bp,
               CAST(m.n_merged AS BIGINT) AS n_merged,
               CAST(d.n_direct AS BIGINT) AS n_direct,
               CAST(m.merged_cents AS DOUBLE) / 100.0 AS est_merged,
               CAST(d.direct_cents AS DOUBLE) / 100.0 AS est_direct
        FROM est_m m JOIN est_d d ON m.week = d.week
                                 AND m.event_type = d.event_type
                                 AND m.q_bp = d.q_bp
        """


QUERIES["kmv_quantile_rollup_merge"] = QuerySpec(
    _tables(events.kmv_quantile_rollup_merge),
    None,  # replaced below — parameter-derived twin
    "quantile-sketch mergeability as a rollup: day-grain k-smallest-hash "
    "samples roll up to weeks by union + re-take-k alone (no raw "
    "re-scan); the direct-from-raw week estimate is emitted alongside "
    "so the oracle hash pins merged == direct bit-for-bit",
)
QUERIES["kmv_quantile_rollup_merge"] = dataclasses.replace(
    QUERIES["kmv_quantile_rollup_merge"], oracle=_kmv_rollup_sql()
)


QUERIES["bm25_scores"] = QuerySpec(
    _docs(ta.bm25_scores),
    f"""
    WITH docs AS (
        SELECT doc_id, CAST(len({TOKENS_SQL}) AS BIGINT) AS dl,
               {TOKENS_SQL} AS tk
        FROM documents
    ), totals AS (
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(dl) AS BIGINT) AS t_tokens
        FROM docs
    ), words AS (
        SELECT doc_id, dl, unnest(tk) AS word FROM docs
    ), hits AS (
        SELECT doc_id, dl, word FROM words
        WHERE word IN ({", ".join(f"'{w}'" for w in ta.BM25_QUERY)})
    ), tf AS (
        SELECT doc_id, dl, word, CAST(count(*) AS BIGINT) AS tf
        FROM hits GROUP BY 1, 2, 3
    ), dfreq AS (
        SELECT word, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
        FROM hits GROUP BY word
    ), idf AS (
        SELECT word,
               CAST(floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0) * 100)
                    AS BIGINT) AS idf_cn
        FROM dfreq CROSS JOIN totals
    ), scored AS (
        SELECT doc_id,
               CAST(CAST(idf_cn AS HUGEINT) * tf * 22 * t_tokens
                    // (CAST(10 AS HUGEINT) * t_tokens * tf
                        + 3 * t_tokens + 9 * dl * n_docs) AS BIGINT)
                   AS score_cn
        FROM tf JOIN idf USING (word) CROSS JOIN totals
    )
    SELECT doc_id, CAST(count(*) AS INTEGER) AS n_matched,
           CAST(sum(score_cn) AS DOUBLE) / 100.0 AS score
    FROM scored GROUP BY doc_id
    """,
    "BM25 (Lucene idf) for a literal query: one centinat-quantized ln "
    "per term, then pure integer scoring under the 10·T scaling that "
    "clears k1/b to integer literals; per-doc sums exact",
)


QUERIES["embedding_outliers"] = QuerySpec(
    _emb(similarity.embedding_outliers),
    f"""
    WITH q AS (
        SELECT vec_id, label, CAST(i - 1 AS INTEGER) AS pos,
               {_q_sql('emb[CAST(i AS INTEGER)]')} AS qx
        FROM (SELECT vec_id, label, {_EMB_SQL} AS emb
              FROM embeddings)
        CROSS JOIN range(1, {similarity.EMBED_DIM + 1}) t(i)
    ), sums AS (
        SELECT label, pos, CAST(sum(qx) AS BIGINT) AS s,
               CAST(count(*) AS BIGINT) AS n
        FROM q GROUP BY 1, 2
    ), per_vec AS (
        SELECT q.vec_id, q.label, min(n) AS n,
               sum(CAST(n * qx - s AS HUGEINT) * (n * qx - s)) AS ssum
        FROM q JOIN sums USING (label, pos)
        GROUP BY 1, 2
    ), scored AS (
        SELECT vec_id, label,
               CAST(ssum AS DOUBLE) / (CAST(n AS DOUBLE) * n)
                   / {float(similarity.DRIFT_SCALE) ** 2!r} AS dist2
        FROM per_vec
    )
    SELECT CAST(row_number() OVER (ORDER BY dist2 DESC, vec_id) AS INTEGER)
               AS rnk,
           vec_id, CAST(label AS INTEGER) AS label, dist2
    FROM scored ORDER BY dist2 DESC, vec_id LIMIT {similarity.OUTLIER_TOP_K}
    """,
    "Row-level embedding QA (label_centroid_drift's companion): exact "
    "integer n²·d² to the own-label centroid via the centroid-free "
    "Σ(n·q − s)² form, DECIMAL(38,0) squares, one fixed division chain, "
    "distributed top-k",
)


# ONE SQL text, BOTH engines run it verbatim: the ad-hoc SQL surface
# (catalog.run_sql / the `sql` CLI subcommand) demonstrated as a
# registry query — the oracle IS the same string, so the entry also
# pins the dialect-neutral subset (standard JOIN/CAST/DECIMAL, exact
# decimal money sums) that users can rely on in both engines.
PORTABLE_SQL_TEXT = """
    SELECT n.n_name,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(o.o_totalprice AS DECIMAL(12,2))) AS DOUBLE)
               AS total_price
    FROM orders o
    JOIN customer c ON o.o_custkey = c.c_custkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
"""


def _sql_passthrough(spark: SparkSession, sf_dir: str) -> DataFrame:
    from mapreduce_rs_spark.sources.catalog import run_sql

    return run_sql(spark, sf_dir, PORTABLE_SQL_TEXT)


QUERIES["sql_text_passthrough"] = QuerySpec(
    _sql_passthrough,
    PORTABLE_SQL_TEXT,
    "the ad-hoc SQL surface: catalog views + spark.sql on a dialect-"
    "neutral text — the DuckDB oracle runs the IDENTICAL string",
)


def _dp_noise_sql() -> str:
    """CASE-chain twin of events.dp_noisy_counts' threshold lookup,
    built from the SAME Python-computed integer literals."""
    thresholds = events._geometric_thresholds()
    draw = h32_sql(f"('{events.DP_SALT}|' || event_type || '|dp')")
    whens = " ".join(
        f"WHEN {draw} < {thr} THEN {z}" for thr, z in thresholds[:-1]
    )
    return f"CASE {whens} ELSE {thresholds[-1][1]} END"


QUERIES["dp_noisy_counts"] = QuerySpec(
    _tables(events.dp_noisy_counts),
    f"""
    WITH counts AS (
        SELECT event_type, CAST(count(*) AS BIGINT) AS true_count
        FROM events GROUP BY event_type
    )
    SELECT event_type, true_count,
           CAST({_dp_noise_sql()} AS BIGINT) AS noise,
           CAST(greatest(true_count + ({_dp_noise_sql()}), 0) AS BIGINT)
               AS dp_count
    FROM counts
    """,
    "DP counts via the discrete geometric mechanism: noise = integer "
    "inverse-CDF table lookup of the portable hash draw (bootstrap-CDF-"
    "literal pattern) — reproducible, engine-portable, zero floats",
)


QUERIES["k_anonymity_audit"] = QuerySpec(
    _docs(curation.k_anonymity_audit),
    f"""
    WITH classes AS (
        SELECT lang, source,
               CAST(n_chars // {curation.N_CHARS_BUCKET} AS BIGINT)
                   AS chars_bucket,
               CAST(count(*) AS BIGINT) AS class_size
        FROM documents GROUP BY 1, 2, 3
    ), rolled AS (
        SELECT lang,
               CAST(count(*) AS BIGINT) AS n_classes,
               CAST(sum(CASE WHEN class_size < {curation.K_ANONYMITY}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_small_classes,
               CAST(sum(class_size) AS BIGINT) AS n_rows,
               CAST(sum(CASE WHEN class_size < {curation.K_ANONYMITY}
                             THEN class_size ELSE 0 END) AS BIGINT)
                   AS n_rows_at_risk
        FROM classes GROUP BY lang
    )
    SELECT lang, n_classes, n_small_classes, n_rows, n_rows_at_risk,
           CAST(n_rows_at_risk * 10000 // n_rows AS BIGINT) AS risk_bp
    FROM rolled
    """,
    "k-anonymity audit over the release quasi-identifiers: exact class "
    "sizes, integer bucket edges, at-risk share in basis points",
)


QUERIES["value_drift_chi2"] = QuerySpec(
    _tables(events.value_drift_chi2),
    f"""
    WITH ev AS (
        SELECT event_type, ts,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ), bounds AS (
        SELECT (epoch_us(min(ts)) + epoch_us(max(ts))) // 2 AS mid_us
        FROM events
    ), halved AS (
        SELECT event_type,
               CAST(CASE WHEN cents > 0 THEN length(bin(cents)) - 1
                         ELSE -1 END AS INTEGER) AS bucket,
               CASE WHEN epoch_us(ts) < (SELECT mid_us FROM bounds)
                    THEN 1 ELSE 0 END AS in_a
        FROM ev
    ), per_bucket AS (
        SELECT event_type, bucket,
               CAST(sum(in_a) AS BIGINT) AS o_a,
               CAST(sum(1 - in_a) AS BIGINT) AS o_b
        FROM halved GROUP BY 1, 2
    ), sized AS (
        SELECT event_type, bucket, o_a, o_b,
               CAST(sum(o_a) OVER (PARTITION BY event_type) AS BIGINT) AS n_a,
               CAST(sum(o_b) OVER (PARTITION BY event_type) AS BIGINT) AS n_b
        FROM per_bucket
    ), terms AS (
        SELECT event_type, n_a, n_b,
               CASE WHEN n_a > 0 AND n_b > 0 THEN
                   (CAST(o_a AS HUGEINT) * n_b - CAST(o_b AS HUGEINT) * n_a)
                   * (CAST(o_a AS HUGEINT) * n_b - CAST(o_b AS HUGEINT) * n_a)
                   * {events.CHI2_SCALE}
                   // (CAST(n_a AS HUGEINT) * n_b * (o_a + o_b))
               END AS term_micro
        FROM sized
    )
    SELECT event_type,
           CAST(min(n_a) AS BIGINT) AS n_a,
           CAST(min(n_b) AS BIGINT) AS n_b,
           CAST(count(*) - 1 AS INTEGER) AS dof,
           CAST(sum(term_micro) AS DOUBLE) / {events.CHI2_SCALE} AS chi2
    FROM terms GROUP BY event_type
    """,
    "Two-sample chi-square value-drift monitor: log2 buckets, data-"
    "derived µs midpoint split, per-bucket terms as ONE integer floor "
    "division into micro-units (DECIMAL(38,0)/HUGEINT products), exact "
    "sum, chi2 = one division — alarm can't flap from partition noise",
)


QUERIES["asof_customer_maturity"] = QuerySpec(
    _tables(relational.asof_customer_maturity),
    f"""
    WITH dim AS (
        SELECT o_custkey AS cust, o_orderdate AS pts, 0 AS src,
               o_orderkey AS k1, CAST(0 AS BIGINT) AS k2,
               CAST(row_number() OVER (PARTITION BY o_custkey
                    ORDER BY o_orderdate, o_orderkey) AS BIGINT)
                   AS orders_so_far,
               CAST(NULL AS DECIMAL(16,4)) AS rev
        FROM orders
    ), probe AS (
        SELECT o.o_custkey AS cust, l.l_shipdate AS pts, 1 AS src,
               l.l_orderkey AS k1, CAST(l.l_linenumber AS BIGINT) AS k2,
               CAST(NULL AS BIGINT) AS orders_so_far,
               {DISC_PRICE_DEC} AS rev
        FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), unioned AS (
        SELECT * FROM dim UNION ALL SELECT * FROM probe
    ), carried AS (
        SELECT cust, src, rev,
               last_value(orders_so_far IGNORE NULLS) OVER (
                   PARTITION BY cust ORDER BY pts, src, k1, k2
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS so_far
        FROM unioned
    )
    SELECT COALESCE(so_far, 0) AS orders_so_far,
           CAST(count(*) AS BIGINT) AS n_lines,
           {_stable_sum('rev')} AS total_revenue,
           {_stable_avg('rev')} AS avg_line_revenue
    FROM carried WHERE src = 1 GROUP BY 1
    """,
    "Two-table point-in-time join via the union trick: order-count "
    "version rows + shipped-line probes in one custkey-partitioned "
    "IGNORE-NULLS carry window — no time-range join; exact decimal money",
)


QUERIES["kmv_quantile_sketch"] = QuerySpec(
    _tables(events.kmv_quantile_sketch),
    _kmv_quantile_sql(),
    "Sampled quantiles with exact-error eval: per-type k-smallest-hash "
    "uniform sample (bounded, mergeable, deterministic), integer rank "
    "crossing, exact leg rides along as the harness (dropped at scale)",
)


def _bpe_rounds_ctes(n_merges: int = 6) -> str:
    """The shared unrolled BPE CTE chain (leading WITH included): round
    r computes pair counts over v{r-1}, picks the argmax b{r} (cnt DESC,
    pair — the exact tie-break the Spark trainer collects), and applies
    the double-space literal replace to form v{r} (see the operator
    docstring for why left-to-right replace IS the BPE merge). Both the
    trainer oracle (reads the b{r}s) and the encoder oracle (reads the
    final v{n}) build on THIS chain — one definition of merge semantics,
    the ann_recall/lsh_dedup_eval shared-builder rule."""
    parts = [
        f"""
        WITH wc AS (
            SELECT word, count(*) AS freq FROM (
                SELECT unnest({TOKENS_SQL}) AS word FROM documents
            ) GROUP BY word
        ), v0 AS (
            SELECT word, freq, '  ' || regexp_replace(word, '(.)', '\\1  ', 'g') AS s
            FROM wc
        )"""
    ]
    for r in range(1, n_merges + 1):
        parts.append(
            f""", p{r} AS (
            SELECT pair, CAST(sum(freq) AS BIGINT) AS cnt FROM (
                SELECT freq, unnest({_slide_sql('syms', (0, 1))}) AS pair
                FROM (SELECT freq, list_filter(string_split(s, '  '), x -> x <> '') AS syms
                      FROM v{r - 1})
            ) GROUP BY pair
        ), b{r} AS (
            SELECT pair, cnt FROM p{r} ORDER BY cnt DESC, pair LIMIT 1
        ), v{r} AS (
            SELECT word, freq,
                   replace(s, ' ' || split_part(pair, ' ', 1) || '  ' || split_part(pair, ' ', 2) || ' ',
                              ' ' || replace(pair, ' ', '') || ' ') AS s
            FROM v{r - 1} CROSS JOIN b{r}
        )"""
        )
    return "".join(parts)


def _bpe_merges_sql(n_merges: int = 6) -> str:
    """Trainer oracle: the argmax rows b1..bn off the shared chain."""
    unions = "\n            UNION ALL ".join(
        f"SELECT CAST({r} AS INTEGER) AS merge_round, pair, cnt FROM b{r}"
        for r in range(1, n_merges + 1)
    )
    return (
        _bpe_rounds_ctes(n_merges)
        + f"\n        SELECT * FROM ({unions}) ORDER BY merge_round"
    )


def _bpe_encode_sql(n_merges: int = 6) -> str:
    """Encoder oracle: per-word subword counts from the FINAL vocabulary
    state v{n}, joined onto the document token stream. Ratios are single
    divisions of exact integers (deterministic; see hll rationale)."""
    return (
        _bpe_rounds_ctes(n_merges)
        + f""", wtok AS (
            SELECT word,
                   len(list_filter(string_split(s, '  '), x -> x <> '')) AS n_sub,
                   length(word) AS n_chr
            FROM v{n_merges}
        ), doctoks AS (
            SELECT doc_id, word FROM (
                SELECT doc_id, unnest({TOKENS_SQL}) AS word FROM documents
            ) WHERE word <> ''
        )
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               CAST(sum(n_sub) AS BIGINT) AS n_tokens,
               CAST(sum(n_chr) AS BIGINT) AS n_chars,
               CAST(sum(n_sub) AS DOUBLE) / CAST(count(*) AS BIGINT) AS tokens_per_word,
               CAST(sum(n_chr) AS DOUBLE) / CAST(sum(n_sub) AS BIGINT) AS chars_per_token
        FROM doctoks JOIN wtok USING (word)
        GROUP BY doc_id ORDER BY doc_id
        """
    )


def _wav_windows_sql() -> str:
    """Oracle for wav_frame_features: each window [a, bnd) of the tiled
    sample stream (sample j = (byte[j % len] - 128)·256) is a range sum
    under three transforms — |ascii-128|·256, (ascii-128)²·2^16, and
    the |ascii-128| ≥ 32 loudness indicator — each expressed as whole
    text repetitions times the full-text sum plus a prefix-sum
    difference (the gif_frame_stats machinery, parameterized over the
    transform). The VALUES(0..2) window list covers the synthesis
    bound: n_samples ≤ 96 = 3 windows of WAV_WIN=32."""
    win = multimodal.WAV_WIN
    a_ch = "ascii(substr(text, CAST(i AS INTEGER), 1))"
    transforms = {
        "abs": f"abs({a_ch} - 128) * 256",
        "sq": f"({a_ch} - 128) * ({a_ch} - 128) * 65536",
        "loud": f"CASE WHEN abs({a_ch} - 128) >= 32 THEN 1 ELSE 0 END",
    }

    def agg(hi: str, expr: str) -> str:
        return (
            "COALESCE(CAST(list_aggregate(list_transform("
            f"range(1, {hi} + 1), i -> {expr}), 'sum') AS BIGINT), 0)"
        )

    all_cols = ",\n                   ".join(
        f"{agg('len', e)} AS all_{t}" for t, e in transforms.items()
    )
    pre_b = ",\n                   ".join(
        f"{agg('CASE WHEN len = 0 THEN 0 ELSE bnd % len END', e)} AS preb_{t}"
        for t, e in transforms.items()
    )
    pre_a = ",\n                   ".join(
        f"{agg('CASE WHEN len = 0 THEN 0 ELSE a % len END', e)} AS prea_{t}"
        for t, e in transforms.items()
    )
    return f"""
        WITH base AS (
            SELECT doc_id, text, length(text) AS len,
                   (length(text) % 2 + 1) * (length(text) % 48 + 1) AS n_samples
            FROM {_SYNTH_DOCS}
        ), ranges AS (
            SELECT doc_id, text, len, n_samples,
                   w.w AS win_idx,
                   w.w * {win} AS a,
                   least((w.w + 1) * {win}, n_samples) AS bnd
            FROM base
            CROSS JOIN (VALUES (0), (1), (2)) AS w(w)
            WHERE w.w * {win} < n_samples
        ), sums AS (
            SELECT doc_id, win_idx, a, bnd,
                   CASE WHEN len = 0 THEN 0 ELSE (bnd // len - a // len) END AS reps,
                   {all_cols},
                   {pre_b},
                   {pre_a}
            FROM ranges
        )
        SELECT doc_id,
               CAST(win_idx AS INTEGER) AS win_idx,
               CAST(bnd - a AS BIGINT) AS n_win,
               CAST(reps * all_abs + preb_abs - prea_abs AS BIGINT) AS sum_abs,
               CAST(reps * all_sq + preb_sq - prea_sq AS BIGINT) AS sum_sq,
               CAST(reps * all_sq + preb_sq - prea_sq AS DOUBLE) / (bnd - a)
                   AS mean_square,
               CAST(reps * all_loud + preb_loud - prea_loud AS BIGINT) AS n_loud
        FROM sums
        """


QUERIES["wav_frame_features"] = dataclasses.replace(
    QUERIES["wav_frame_features"], oracle=_wav_windows_sql()
)

QUERIES["language_id_confusion"] = dataclasses.replace(
    QUERIES["language_id_confusion"], oracle=_lang_confusion_sql()
)


def _lpa_sql(rounds: int = graph.LPA_ROUNDS, min_orders: int = 2) -> str:
    """Unrolled-CTE oracle for label_propagation_communities: round r
    recomputes neighbor-label counts from round r-1 and takes the
    (count DESC, label ASC) argmax per node — the identical
    deterministic tie-break as the Spark window."""
    ctes = [
        f"""op AS (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), edges AS (
            SELECT a.l_partkey AS u, b.l_partkey AS v
            FROM op a JOIN op b
              ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= {min_orders}
        ), adj AS (
            SELECT u AS node, v AS nbr FROM edges
            UNION ALL SELECT v, u FROM edges
        ), lab0 AS (
            SELECT DISTINCT node, node AS lbl FROM adj
        )"""
    ]
    for r in range(1, rounds + 1):
        ctes.append(
            f"""c{r} AS (
            SELECT a.node AS node, l.lbl AS lbl, count(*) AS c
            FROM adj a JOIN lab{r - 1} l ON a.nbr = l.node
            GROUP BY 1, 2
        ), lab{r} AS (
            SELECT node, lbl FROM (
                SELECT node, lbl,
                       row_number() OVER (PARTITION BY node
                                          ORDER BY c DESC, lbl ASC) AS rk
                FROM c{r}
            ) WHERE rk = 1
        )"""
        )
    return (
        "\n        WITH "
        + ",\n        ".join(ctes)
        + f"""
        SELECT node AS partkey, lbl AS community FROM lab{rounds}
        """
    )


QUERIES["label_propagation_communities"] = dataclasses.replace(
    QUERIES["label_propagation_communities"], oracle=_lpa_sql()
)


QUERIES["bpe_train_merges"] = dataclasses.replace(
    QUERIES["bpe_train_merges"], oracle=_bpe_merges_sql()
)

QUERIES["hll_distinct_users"] = dataclasses.replace(
    QUERIES["hll_distinct_users"], oracle=_hll_sql()
)

QUERIES["hll_rollup_merge"] = dataclasses.replace(
    QUERIES["hll_rollup_merge"], oracle=_hll_rollup_sql()
)

QUERIES["cms_word_counts"] = dataclasses.replace(
    QUERIES["cms_word_counts"], oracle=_cms_sql()
)

QUERIES["bpe_encode_stats"] = dataclasses.replace(
    QUERIES["bpe_encode_stats"], oracle=_bpe_encode_sql()
)


def _kcore_sql(k: int = 3, rounds: int = 14) -> str:
    """Unrolled-CTE oracle for kcore_decomposition: round r drops nodes
    whose degree over e{r} is < k; rounds past the fixed point are
    no-ops on both engines, so the fixed unroll count is safe."""
    # Every e{r}/d{r} is AS MATERIALIZED: each round references its
    # predecessor several times, and DuckDB inlines plain CTEs — the
    # unrolled chain would otherwise re-expand exponentially (observed:
    # "too many open files" from ~5^rounds scans of the base table).
    parts = [
        """
        WITH op AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT CAST(a.l_partkey AS BIGINT) AS u,
                   CAST(b.l_partkey AS BIGINT) AS v
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        )"""
    ]
    for r in range(rounds):
        parts.append(
            f""", d{r} AS MATERIALIZED (
            SELECT node, count(*) AS deg FROM (
                SELECT u AS node FROM e{r} UNION ALL SELECT v FROM e{r}
            ) GROUP BY node
        ), e{r + 1} AS MATERIALIZED (
            SELECT u, v FROM e{r}
            WHERE u IN (SELECT node FROM d{r} WHERE deg >= {k})
              AND v IN (SELECT node FROM d{r} WHERE deg >= {k})
        )"""
        )
    parts.append(
        f"""
        SELECT node AS partkey, CAST(count(*) AS BIGINT) AS core_degree FROM (
            SELECT u AS node FROM e{rounds} UNION ALL SELECT v FROM e{rounds}
        ) GROUP BY node ORDER BY partkey"""
    )
    return "".join(parts)


QUERIES["kcore_decomposition"] = QuerySpec(
    _tables(graph.kcore_decomposition),
    _kcore_sql(),
    "k-core via iterative peeling: per-round degree agg + semi-joins over "
    "checkpointed edges, loud convergence assert; oracle = unrolled CTE rounds",
)


def _bfs_sql(n_seeds: int = 4, max_hops: int = 4) -> str:
    """Unrolled-CTE oracle for graph.bfs_hops: the same co-purchase edge
    construction as _kcore_sql, the same KMV seed rule as _qids_cte, and
    one min-merge CTE per BFS round (rounds past an empty frontier are
    no-ops on both engines)."""
    parts = [
        f"""
        WITH op AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT CAST(a.l_partkey AS BIGINT) AS u,
                   CAST(b.l_partkey AS BIGINT) AS v
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ), bi AS MATERIALIZED (
            SELECT u AS src, v AS dst FROM e0
            UNION ALL SELECT v AS src, u AS dst FROM e0
        ), seeds AS MATERIALIZED (
            SELECT node FROM (SELECT DISTINCT src AS node FROM bi)
            ORDER BY {h32_sql("CAST(node AS VARCHAR)")}, node LIMIT {n_seeds}
        ), l0 AS MATERIALIZED (
            SELECT node, 0 AS hop FROM seeds
        )"""
    ]
    for r in range(1, max_hops + 1):
        parts.append(
            f""", l{r} AS MATERIALIZED (
            SELECT node, min(hop) AS hop FROM (
                SELECT node, hop FROM l{r - 1}
                UNION ALL
                SELECT bi.dst AS node, {r} AS hop
                FROM (SELECT node FROM l{r - 1} WHERE hop = {r - 1}) f
                JOIN bi ON bi.src = f.node
            ) GROUP BY node
        )"""
        )
    parts.append(
        f"""
        SELECT node AS partkey, CAST(hop AS INTEGER) AS hop
        FROM l{max_hops} ORDER BY partkey"""
    )
    return "".join(parts)


QUERIES["bfs_hops"] = QuerySpec(
    _tables(graph.bfs_hops),
    _bfs_sql(),
    "multi-source BFS min-hop labels from a KMV-bounded seed set: "
    "per-round frontier equi-join + min merge over checkpointed labels; "
    "oracle = the same rounds unrolled as chained CTEs",
)


def _wsp_sql(n_seeds: int = 4, max_rounds: int = 4) -> str:
    """Unrolled-CTE oracle for graph.weighted_shortest_paths: the bfs
    edge/seed construction plus integer costs; the oracle relaxes the
    FULL table per round where Spark relaxes only the frontier — the
    two agree round by round (delta relaxation omits only re-relaxing
    unimproved nodes, whose candidates are already in the table)."""
    parts = [
        f"""
        WITH op AS MATERIALIZED (
            SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
        ), e0 AS MATERIALIZED (
            SELECT CAST(a.l_partkey AS BIGINT) AS u,
                   CAST(b.l_partkey AS BIGINT) AS v,
                   CAST(100 // count(*) + 1 AS BIGINT) AS cost
            FROM op a
            JOIN op b ON a.l_orderkey = b.l_orderkey
                     AND a.l_partkey < b.l_partkey
            GROUP BY 1, 2 HAVING count(*) >= 2
        ), bi AS MATERIALIZED (
            SELECT u AS src, v AS dst, cost FROM e0
            UNION ALL SELECT v AS src, u AS dst, cost FROM e0
        ), seeds AS MATERIALIZED (
            SELECT node FROM (SELECT DISTINCT src AS node FROM bi)
            ORDER BY {h32_sql("CAST(node AS VARCHAR)")}, node LIMIT {n_seeds}
        ), d0 AS MATERIALIZED (
            SELECT node, CAST(0 AS BIGINT) AS dist FROM seeds
        )"""
    ]
    for r in range(1, max_rounds + 1):
        parts.append(
            f""", d{r} AS MATERIALIZED (
            SELECT node, min(dist) AS dist FROM (
                SELECT node, dist FROM d{r - 1}
                UNION ALL
                SELECT bi.dst AS node, f.dist + bi.cost AS dist
                FROM d{r - 1} f JOIN bi ON bi.src = f.node
            ) GROUP BY node
        )"""
        )
    parts.append(
        f"""
        SELECT node AS partkey, CAST(dist AS BIGINT) AS dist
        FROM d{max_rounds} ORDER BY partkey"""
    )
    return "".join(parts)


QUERIES["weighted_shortest_paths"] = QuerySpec(
    _tables(graph.weighted_shortest_paths),
    _wsp_sql(),
    "bounded-round Bellman-Ford with pure-integer co-purchase costs: "
    "delta relaxation (frontier-only joins) vs the oracle's full relax "
    "agree round by round; exact integer distances",
)


QUERIES["rollup_incremental_refresh"] = QuerySpec(
    _tables(events.rollup_incremental_refresh),
    f"""
    WITH ev AS (
        SELECT ts, event_type,
               CAST(CAST(value AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents
        FROM events
    ), cutoff AS (
        SELECT max(ts) - INTERVAL {events.REFRESH_LOOKBACK_HOURS} HOUR
               AS cutoff_ts
        FROM ev
    ), tagged AS (
        SELECT date_trunc('hour', ts) AS bucket_ts, event_type, cents,
               ts < (SELECT cutoff_ts FROM cutoff) AS is_base
        FROM ev
    ), base AS (
        SELECT bucket_ts, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM tagged WHERE is_base GROUP BY 1, 2
    ), delta AS (
        SELECT bucket_ts, event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(sum(cents) AS BIGINT) AS sum_cents
        FROM tagged WHERE NOT is_base GROUP BY 1, 2
    ), merged AS (
        SELECT bucket_ts, event_type,
               CAST(sum(n_events) AS BIGINT) AS n_events,
               CAST(sum(sum_cents) AS BIGINT) AS sum_cents
        FROM (SELECT * FROM base UNION ALL SELECT * FROM delta)
        GROUP BY 1, 2
    ), fullr AS (
        SELECT bucket_ts, event_type,
               CAST(count(*) AS BIGINT) AS full_n,
               CAST(sum(cents) AS BIGINT) AS full_cents
        FROM tagged GROUP BY 1, 2
    )
    SELECT bucket_ts, event_type, m.n_events,
           CAST(m.sum_cents AS DOUBLE) / 100.0 AS sum_value,
           (m.n_events = f.full_n AND m.sum_cents = f.full_cents)
               AS consistent
    FROM merged m FULL JOIN fullr f USING (bucket_ts, event_type)
    """,
    "Incremental view maintenance proven per bucket: base + delta "
    "partials re-aggregated and compared to the full recompute — "
    "count/decimal-cent sums are re-aggregable, so consistent is true "
    "on every row; at scale the full leg drops and the merge IS the plan",
)


# ---------------------------------------------------------------------------
# Presentation ordering (QuerySpec.sort rationale): the deterministic
# total order each driver-facing query carries on top of its operator.
# Queries absent here either sort inside the operator because ordering
# IS their semantics (word-count's reference-op-12 total sort, the
# top-k orderBy+limit queries) or emit per-row results where no
# presentation order was ever promised (showcase batteries).
# ---------------------------------------------------------------------------
_PRESENT_SORT: dict[str, tuple[str, ...]] = {
    "wordcount_salted": ("word",),
    "wordcount_mapreduce_udf": ("word",),
    "dedup_exact": ("keep_doc_id",),
    "duplicate_spans": ("doc_id",),
    "minhash_signatures": ("doc_id",),
    "minhash_lsh_pairs": ("doc_a", "doc_b"),
    "lsh_scurve_calibration": ("sim_decile",),
    "simhash_signatures": ("doc_id",),
    "winnow_fingerprints": ("doc_id",),
    "jaccard_pairs": ("doc_a", "doc_b"),
    "simhash_near_pairs": ("doc_a", "doc_b"),
    "dedup_components": ("doc_id",),
    "pagerank_trade_flows": ("n_name",),
    "bigram_pmi": ("w1", "w2"),
    "skipgram_pmi": ("w1", "w2"),
    "vocab_coverage": ("target_pct",),
    "term_drift": ("lang", "rnk"),
    "mixture_sample": ("lang", "source"),
    "copurchase_pairs": ("part_a", "part_b"),
    "skyline_parts": ("p_partkey",),
    "tfidf_top_terms": ("doc_id", "rnk"),
    "knn_bruteforce": ("q_id", "rnk"),
    "pq_code_histogram": ("subspace", "code"),
    "knn_pq": ("q_id", "rnk"),
    "knn_pca": ("q_id", "rnk"),
    "knn_ivfpq": ("q_id", "rnk"),
    "lsh_buckets": ("bucket",),
    "knn_lsh": ("q_id", "rnk"),
    "ivf_histogram": ("centroid_id",),
    "ivf_index_maintenance": ("centroid_id",),
    "knn_ivf": ("q_id", "rnk"),
    "knn_ivf_multiprobe": ("q_id", "rnk"),
    "nn_descent_knn_graph": ("vec_id", "rnk"),
    "nn_descent_recall": ("q_id",),
    "knn_graph_search": ("q_id", "rnk"),
    "semantic_decontaminate": ("vec_id",),
    "semantic_decontaminate_fixed": ("vec_id",),
    "embedding_near_dup": ("vec_a", "vec_b"),
    "embedding_near_dup_derived": ("vec_a", "rnk"),
    "q1_pricing_summary": ("l_returnflag", "l_linestatus"),
    "join_revenue_by_nation": ("r_name", "n_name"),
    "join_left_order_counts": ("c_custkey",),
    "join_semi_recent_customers": ("c_custkey",),
    "join_anti_customers_without_orders": ("c_custkey",),
    "agg_order_priorities": ("o_orderpriority",),
    "rollup_returns": ("l_returnflag", "l_linestatus"),
    "cube_status_priority": ("o_orderstatus", "o_orderpriority"),
    "window_top_orders_per_customer": ("o_custkey", "rnk"),
    "min_cost_part_supplier": ("p_partkey", "s_suppkey"),
    "set_ops_segments": ("op", "c_custkey"),
    "set_ops_multiset": ("op", "c_nationkey"),
    "nations_in_region": ("r_name",),
    "having_active_customers": ("o_custkey",),
    "percentiles_by_priority": ("o_orderpriority",),
    "pivot_status_by_priority": ("o_orderpriority",),
    "unpivot_status_totals": ("o_orderpriority", "status"),
    "range_join_price_bands": ("band",),
    "customers_above_nation_avg": ("c_custkey",),
    "promo_revenue_ratio": ("ship_month",),
    "disjunctive_filter_revenue": ("p_brand",),
    "priority_line_counts": ("l_returnflag",),
    "null_handling_showcase": ("c_custkey",),
    "stats_battery": ("l_returnflag",),
    "fuzzy_nation_pairs": ("name_a", "name_b"),
    "stratified_sample_summary": ("lang",),
    "weighted_sample": ("doc_id",),
    "tumbling_window": ("window_start", "event_type"),
    "sliding_window": ("window_start",),
    "sessionize": ("user_id", "session_idx"),
    "session_window_stats": ("user_id", "session_start"),
    "json_props_agg": ("event_type",),
    "asof_last_click_before_purchase": ("user_id", "event_id"),
    "multi_resolution_rollup": ("resolution", "bucket_ts", "event_type"),
    "kmv_distinct_users": ("event_type",),
    "theta_daily_overlap": ("day_a",),
    "hll_distinct_users": ("event_type",),
    "cms_word_counts": ("word",),
    "temperature_mixture": ("lang",),
    "range_window_revenue": ("user_id", "event_id"),
    "cohort_retention": ("cohort_day", "day_offset"),
    "out_of_order_stats": ("user_id",),
    "equi_depth_histogram": ("bucket",),
    "value_histogram": ("bucket_lo",),
    "user_activity_stats": ("user_id",),
    "event_paths": ("path",),
    "value_anomalies": ("event_id",),
    "time_weighted_value": ("user_id",),
    "ohlc_bars": ("bucket_ts", "event_type"),
    "gapfill_hourly": ("bucket_ts", "event_type"),
    "hourly_percentile_bands": ("bucket_ts", "event_type"),
    "referential_audit": ("relationship",),
    "curation_yield": ("lang",),
    "pack_sequences": ("lang", "bin"),
    "curation_yield_neardup": ("lang",),
    "source_extraction": ("src_num",),
    "png_decode_stats": ("doc_id",),
    "image_resize_stats": ("doc_id",),
    "bmp_decode_stats": ("doc_id",),
    "multimodal_features": ("modality",),
    "hll_rollup_merge": ("week", "event_type"),
    "jpeg_decode_stats": ("doc_id",),
    "wav_decode_stats": ("doc_id",),
    "triangle_counts": ("partkey",),
    "bloom_prefilter_stats": ("o_orderpriority",),
    "gif_frame_stats": ("doc_id", "frame_idx"),
    "video_frame_sample": ("doc_id", "sample_idx"),
    "leakage_safe_splits": ("split",),
    "rfm_segments": ("r_score", "f_score", "m_score"),
    "pii_scrub_stats": ("lang",),
    "incremental_ingest_dedup": ("lang",),
    "incremental_ingest_neardup": ("lang",),
    "q18_large_orders": ("o_orderkey",),
    "q21_sole_late_supplier": ("s_suppkey",),
    "q4_order_priority_checking": ("o_orderpriority",),
    "q12_priority_by_returnflag": ("l_returnflag",),
    "q15_top_supplier": ("s_suppkey",),
    "ann_recall": ("method",),
    "ann_ranking_metrics": ("method",),
    "q7_volume_shipping": ("supp_nation", "cust_nation", "ship_year"),
    "q8_market_share": ("o_year",),
    "q9_profit_by_nation": ("n_name", "o_year"),
    "q13_customer_distribution": ("c_count",),
    "q22_dormant_customers": ("c_mktsegment",),
    "q11_important_stock": ("p_partkey",),
    "user_value_trend": ("user_id",),
    "dsir_importance_weights": ("doc_id",),
    "state_intervals": ("user_id", "event_type", "valid_from"),
    "entity_match_customers": ("dirty_id",),
    "orders_merge_upsert": ("status",),
    "bpe_train_merges": ("merge_round",),
    "bpe_encode_stats": ("doc_id",),
    "kcore_decomposition": ("partkey",),
    "bfs_hops": ("partkey",),
    "q16_supplier_part_types": ("p_brand", "p_type", "p_size"),
    "q20_surplus_suppliers": ("s_suppkey",),
    "q5_local_supplier_volume": ("n_name",),
    "latest_event_state": ("latest_event_type",),
    "decontaminate": ("lang",),
    "curation_yield_signals": ("lang",),
    "cdc_chunk_dedup": ("doc_id",),
    "chunk_documents": ("doc_id", "chunk_idx"),
    "repetition_signals": ("doc_id",),
    "boilerplate_ngrams": ("doc_id",),
    "mixture_weights": ("lang", "source"),
    "semdedup": ("centroid_id",),
    "zorder_locality": ("layout",),
    "benford_digit_audit": ("digit",),
    "event_transition_matrix": ("prev_type", "next_type"),
    "link_prediction_scores": ("part_a", "part_b"),
    "target_encoding_nations": ("nation",),
    "ewma_value": ("user_id",),
    "feature_hashing_stats": ("dim",),
    "zone_map_pruning": ("layout",),
    "wav_frame_features": ("doc_id", "win_idx"),
    "ngram_containment_pairs": ("doc_a", "doc_b"),
    "key_skew_profile": ("key_name",),
    "label_propagation_communities": ("partkey",),
    "robust_value_anomalies": ("event_id",),
    "ann_rank_fusion": ("q_id", "fused_rank"),
    "seasonality_profile": ("event_type", "hour_of_day"),
    "burst_hours": ("event_type", "bucket_ts"),
    "prefix_filter_jaccard_pairs": ("doc_a", "doc_b"),
    "dq_rule_violations": ("table_name", "rule"),
    "multitouch_attribution": ("touch_type",),
    "inter_event_gaps": ("event_type",),
    "frequent_triples": ("part_a", "part_b", "part_c"),
    "label_centroid_drift": ("label",),
    "bootstrap_ci_mean": ("n_orders",),
    "abandoned_clicks": ("day",),
    "weekly_growth": ("week",),
    "weighted_median_price": ("l_returnflag",),
    "log2_value_histogram": ("event_type", "bucket"),
    "language_id_confusion": ("lang_actual", "lang_pred"),
    "oov_rate_scores": ("doc_id",),
    "domain_stats": ("domain",),
    "bpe_merge_candidates": ("rnk",),
    "unigram_surprisal_scores": ("doc_id",),
    "bigram_surprisal_scores": ("doc_id",),
    "token_budget_allocation": ("lang",),
    "compaction_plan": ("day", "file_group"),
    "state_snapshot_diff": ("user_id",),
    "pq_reconstruction_error": ("subspace", "code"),
    "erasure_plan": ("day",),
    # (ab_test_conversion emits a single row — no sort needed, the
    # lsh_dedup_eval precedent.)
    "kmeans_refit_distributed": ("centroid_id",),
    "kmeans_refit_eval": ("centroid_id",),
    "semdedup_derived_k": ("centroid_id",),
    "semdedup_ingest_audit": ("centroid_id",),
    "embedding_near_dup_eval": ("q_id",),
    "knn_ivf_refit": ("q_id", "rnk"),
    "knn_graph_ingest": ("batch_id",),
    "kmv_quantile_sketch": ("event_type", "q_bp"),
    "kmv_quantile_rollup_merge": ("week", "event_type", "q_bp"),
    "asof_customer_maturity": ("orders_so_far",),
    "value_drift_chi2": ("event_type",),
    "dp_noisy_counts": ("event_type",),
    "k_anonymity_audit": ("lang",),
    "bm25_scores": ("doc_id",),
    "weighted_shortest_paths": ("partkey",),
    "rollup_incremental_refresh": ("bucket_ts", "event_type"),
    "sql_text_passthrough": ("n_name",),
    "embedding_outliers": ("rnk",),
}

_unknown = set(_PRESENT_SORT) - set(QUERIES)
assert not _unknown, f"_PRESENT_SORT names unknown queries: {sorted(_unknown)}"

QUERIES = {
    name: (
        dataclasses.replace(spec, sort=_PRESENT_SORT[name])
        if name in _PRESENT_SORT
        else spec
    )
    for name, spec in QUERIES.items()
}


# ---------------------------------------------------------------------------
# Driver-facing ordering.
#
# The round-1 driver ran its DuckDB correctness comparison on the FIRST
# 50 registry entries only, leaving the events/curation/similarity tail
# externally unverified. Queries that most need an external correctness
# row THIS round go first: (a) everything unchecked in round 1, (b)
# queries added or semantically modified this round. Previously-green
# unchanged queries fill the remaining window and the tail — they keep
# their round-1 green rows as evidence. The dict literal above stays
# organized by topic; this reorder is presentation-only (same specs).
# ---------------------------------------------------------------------------
_CHECK_FIRST: tuple[str, ...] = (
    # ---- round-13 window (50 slots). Built per the r12 verdict
    # (#8: "rotate per the displacement note"). Nothing was
    # semantically modified in round 13 (optimization round — every
    # declared result is unchanged), so the window is pure rotation:
    #
    # (1) THE promised rotation (the r12 displacement note's exact
    # list): all 32 queries whose newest driver row is round 8.
    # After this window lands, no registry query's newest external
    # row is older than round 9:
    "entity_match_customers",
    "erasure_plan",
    "ewma_value",
    "hll_distinct_users",
    "incremental_ingest_neardup",
    "join_size_estimate",
    "lsh_scurve_calibration",
    "nn_descent_knn_graph",
    "nn_descent_recall",
    "ohlc_bars",
    "pagerank_trade_flows",
    "pq_code_histogram",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "range_join_price_bands",
    "referential_audit",
    "semantic_decontaminate",
    "semdedup",
    "sessionize",
    "simhash_signatures",
    "skyline_parts",
    "source_extraction",
    "term_drift",
    "tfidf_top_terms",
    "time_weighted_value",
    "tumbling_window",
    "value_anomalies",
    "window_running_revenue",
    "window_top_orders_per_customer",
    "wordcount",
    "wordcount_salted",
    "zorder_locality",
    #
    # (2) evidence refresh — the alphabetical head of the r09
    # tranche (48 queries whose newest driver row is round 9).
    # 18 slots fill the window at exactly 50:
    "abandoned_clicks",
    "bfs_hops",
    "bmp_decode_stats",
    "bootstrap_ci_mean",
    "cms_word_counts",
    "domain_stats",
    "dq_rule_violations",
    "event_transition_matrix",
    "frequent_triples",
    "gif_frame_stats",
    "image_resize_stats",
    "incremental_ingest_dedup",
    "inter_event_gaps",
    "jpeg_decode_stats",
    "k_anonymity_audit",
    "kcore_decomposition",
    "key_skew_profile",
    "kmeans_refit_distributed",
    # (displacement note for r14: the remaining 30 r09-stale
    # queries —
    # kmeans_refit_eval, kmv_quantile_sketch, knn_ivfpq,
    # label_propagation_communities, link_prediction_scores,
    # multimodal_features, ngram_containment_pairs,
    # orders_merge_upsert, png_decode_stats, pq_reconstruction_error,
    # prefix_filter_jaccard_pairs, q20_surplus_suppliers,
    # q21_sole_late_supplier, q7_volume_shipping, q9_profit_by_nation,
    # robust_value_anomalies, rollup_incremental_refresh,
    # session_window_stats, sql_text_passthrough, state_snapshot_diff,
    # target_encoding_nations, temperature_mixture,
    # token_budget_allocation, unigram_surprisal_scores,
    # value_drift_chi2, video_frame_sample, wav_decode_stats,
    # wav_frame_features, weighted_shortest_paths, zone_map_pruning —
    # rotate these 30 next, then begin the r10 tranche with the
    # remaining slots; after the r14 window no query's newest row
    # is older than round 10.)
)

QUERIES = {
    **{name: QUERIES[name] for name in _CHECK_FIRST},
    **{name: spec for name, spec in QUERIES.items() if name not in _CHECK_FIRST},
}


def _presented(spec: QuerySpec) -> QueryFn:
    """The driver-facing form: operator + the presentation orderBy."""
    if not spec.sort:
        return spec.fn
    fn, cols = spec.fn, spec.sort

    def run(spark: SparkSession, sf_dir: str) -> DataFrame:
        return fn(spark, sf_dir).orderBy(*cols)

    return run


def queries() -> dict[str, QueryFn]:
    return {name: _presented(spec) for name, spec in QUERIES.items()}


def oracle_sql() -> dict[str, str]:
    return {name: spec.oracle for name, spec in QUERIES.items() if spec.oracle is not None}
