"""Text column expressions, matching the reference's word-count semantics.

Reference semantics (``src/mr/function.rs:9-16``): delete chars matching
``[^\\w\\s]``, split on whitespace, case-sensitive, keep digits and
underscores, drop empty tokens. Both Spark (Java regex) and DuckDB (RE2)
treat ``\\w`` as ASCII ``[A-Za-z0-9_]`` by default, so the same pattern is
oracle-portable.

KNOWN DIVERGENCE from the reference on non-ASCII text: Rust's ``regex``
crate treats ``\\w``/``\\s`` as Unicode-aware and ``split_whitespace`` as
Unicode, so the reference KEEPS accented letters ("café" stays "café");
this engine pins ASCII classes on every path (Java regex default here,
``re.ASCII`` in the Python UDF surface) so all three engines — Spark,
DuckDB oracle, Python mappers — agree with EACH OTHER: "café" → "caf".
ASCII is the deliberate choice because cross-engine agreement is the
correctness contract; RE2 (the DuckDB oracle) has no Unicode-\\w
switch, so a Unicode default would be unoracle-able. Pinned by the
non-ASCII golden test in tests/test_text_edge_cases.py.

For users who need the reference's actual non-ASCII behavior,
``clean_text``/``tokens``/``word_count`` accept ``unicode=True``
(Java ``(?U)`` classes) — golden-tested against Python's Unicode regex
(the Rust-semantics mirror) in tests/test_text_edge_cases.py, closing
the one documented behavioral divergence from the reference.

All helpers are pure column expressions — JVM-side, inside whole-stage
codegen; no Python UDFs on this path.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# Keep these literals in sync with the SQL fragments in plans/registry.py.
#
# WHITESPACE IS AN EXPLICIT CLASS, NOT \s: the three engines' \s
# dialects disagree — RE2 (DuckDB) excludes \x0B vertical tab, which
# Java (Spark) and Python (re.ASCII) include — so a document containing
# VT tokenized differently per engine (found by the random-corpus
# three-engine parity probe in tests/test_properties.py). The explicit
# class is the ASCII \s set, identical in all three dialects.
WS_CLASS = r" \t\n\x0B\f\r"
CLEAN_PATTERN = rf"[^\w{WS_CLASS}]"
SPLIT_PATTERN = rf"[{WS_CLASS}]+"
# BPE-ish word/punctuation tokenizer: runs of word chars OR single
# non-word-non-space chars (so "don't" -> ["don", "'", "t"]).
BPE_ISH_PATTERN = rf"[\w]+|[^\w{WS_CLASS}]"


# Unicode mode: Java's (?U) flag switches \w/\s to the Unicode-aware
# classes, matching the Rust reference's semantics on non-ASCII text
# (Rust regex \w and split_whitespace are Unicode: "café" stays whole,
# src/mr/function.rs:10-13). NOT the oracle contract — RE2 (DuckDB) has
# no equivalent switch for \w, so unicode-mode queries are golden-tested
# against Python's Unicode regex (the Rust mirror) instead of oracled.
UNICODE_CLEAN_PATTERN = r"(?U)[^\w\s]"
UNICODE_SPLIT_PATTERN = r"(?U)\s+"


def clean_text(col: Column | str, *, unicode: bool = False) -> Column:
    """Strip punctuation exactly like the reference's ``wc::map``
    (``src/mr/function.rs:10-11``). ``unicode=True`` reproduces the
    Rust reference's Unicode classes (accented letters survive);
    default ASCII is the cross-engine oracle contract."""
    return F.regexp_replace(
        col, UNICODE_CLEAN_PATTERN if unicode else CLEAN_PATTERN, ""
    )


def tokens(col: Column | str, *, unicode: bool = False) -> Column:
    """Whitespace-split token array. It may contain empties (a leading
    '' when the text starts with whitespace, or '' for a text that
    cleans to nothing), so token arrays come from ``word_tokens`` and
    token streams drop '' after the explode — the analog of
    ``split_whitespace`` never yielding empties,
    ``src/mr/function.rs:13``. ``unicode=True``: Unicode whitespace +
    word classes, the reference's actual behavior on non-ASCII input."""
    return F.split(
        clean_text(col, unicode=unicode),
        UNICODE_SPLIT_PATTERN if unicode else SPLIT_PATTERN,
    )


def word_tokens(col: Column | str) -> Column:
    """The non-empty tokens of a document, in order — the reference's
    ``wc::map`` token list (``src/mr/function.rs:9-16``) and the twin of
    ``plans/registry.py`` ``TOKENS_SQL``. A NULL text gives a NULL
    array, which every consumer reads as a document with no tokens."""
    return F.filter(tokens(col), lambda t: t != "")


def slide(toks: Column, offsets: Sequence[int]) -> Column:
    """Space-joined token tuples at the given ``offsets`` from every
    position of an ALREADY-TOKENIZED array column: ``range(n)`` gives
    the n-grams, ``(0, d)`` the ordered pairs ``d`` apart. The one
    slide kernel of the engine (oracle twin: ``registry._slide_sql``).

    Construction is a zip_with fold over the SHIFTED SLICES of the token
    array, each ``m = size - max(offsets)`` long — per ELEMENT the work
    is one string concat. The round-4 rewrite: the previous
    sequence→slice(i,n)→array_join slide allocated a sub-array + joined
    it per POSITION inside an interpreted (non-codegen, no-CSE) lambda,
    which made n-gram construction ~9x the cost of tokenization itself
    (measured at sf0.1: explode(bigrams) 5.9 s vs 0.63 s for this form —
    identical output strings, so every oracle is unaffected)."""
    first, *rest = offsets
    m = F.greatest(F.size(toks) - max(offsets), F.lit(0))
    acc = F.slice(toks, 1 + first, m)
    for o in rest:
        acc = F.zip_with(
            acc,
            F.slice(toks, 1 + o, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return acc


def ngrams_of(toks: Column, n: int) -> Column:
    """Token n-gram array (space-joined) from an ALREADY-TOKENIZED array
    column: ``slide`` over offsets ``0..n-1``. Use this form whenever a
    plan needs more than one gram family from the same text:
    interpreted higher-order functions get no common-subexpression
    elimination, so every ``token_ngrams(text)`` call re-runs the regex
    tokenizer — hoist the token array into one projection and slide
    over it (measured 2-3x on multi-family plans:
    dsir_importance_weights, skipgram_pmi)."""
    return slide(toks, range(n))


def token_ngrams(col: Column | str, n: int) -> Column:
    """Token n-gram array (space-joined) of ``word_tokens(col)`` — a
    narrow per-row expression: NO shuffle, NO self-join. This is the
    scale-correct n-gram shape; a positional self-join over the
    exploded token stream would shuffle the whole corpus once per extra
    gram. Single-family plans only — see ngrams_of for the hoisted
    form."""
    return ngrams_of(word_tokens(col), n)


def bpe_ish_tokens(col: Column | str) -> Column:
    """Tokenizer that keeps punctuation as single-char tokens — the
    token-counting scheme a BPE-style pipeline pre-tokenizer uses.
    idx=0 (whole match): the pattern has no capture groups."""
    return F.regexp_extract_all(
        col if isinstance(col, Column) else F.col(col), F.lit(BPE_ISH_PATTERN), 0
    )
