"""Text normalization / analysis column expressions.

Covers the reference's string cleaners (P5 `cleanName`
halalService.ts:249-257, P6 `cleanMerchantNameForSearch`
externalData.ts:410-423) plus the north-star text-analysis surface
(language-ID, quality scoring, token counting, fingerprinting) used by
the dedup / document-pipeline operators.

Everything is a chain of built-in expressions — regexp_replace, split,
transform, aggregate — so it runs JVM-side under codegen.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Business suffixes stripped by the reference cleaner
# (reference: src/services/halalService.ts:252).
_BUSINESS_SUFFIX_RE = r"\b(pte|ltd|private|limited|sdn|bhd)\b"
# Stall/unit numbers like "#01-23" and standalone digit runs
# (reference: src/services/halalService.ts:253-254).
_STALL_RE = r"#?\d+[-\d]*"
# explicit whitespace class (not \s): Java \s has \x0B, RE2 \s does not
_PUNCT_RE = r"[^\w \t\n\r\f\x0B]"


def clean_name(col: Column | str) -> Column:
    """Normalize a business name: lowercase, strip business suffixes,
    stall/unit numbers, punctuation; collapse whitespace.

    Parity target: ``cleanName`` (reference:
    src/services/halalService.ts:249-257).
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, _BUSINESS_SUFFIX_RE, " ")
    c = F.regexp_replace(c, _STALL_RE, " ")
    c = F.regexp_replace(c, _PUNCT_RE, " ")
    c = F.regexp_replace(c, r"[ \t\n\r\f\x0B]+", " ")
    return F.trim(c)


def clean_name_for_search(col: Column | str, max_words: int = 4) -> Column:
    """Search-variant normalizer: strip suffixes, ``#12-34`` markers,
    parentheticals and ``@...`` tails, then truncate to the first
    ``max_words`` words.

    Parity target: ``cleanMerchantNameForSearch`` (reference:
    src/services/externalData.ts:410-423).
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    c = F.regexp_replace(c, _BUSINESS_SUFFIX_RE, " ")
    c = F.regexp_replace(c, r"#\d+[-\d]*", " ")
    c = F.regexp_replace(c, r"\(.*?\)", " ")
    c = F.regexp_replace(c, r"@.*$", " ")
    c = F.regexp_replace(c, _PUNCT_RE, " ")
    c = F.trim(F.regexp_replace(c, r"[ \t\n\r\f\x0B]+", " "))
    return F.array_join(F.slice(F.split(c, " "), 1, max_words), " ")


def tokenize_words(col: Column | str, min_len: int = 3) -> Column:
    """Split cleaned text into distinct word tokens of length >=
    ``min_len`` — the token-set used by the similarity join
    (reference: src/services/halalService.ts:119-123 filters words of
    length > 2).
    """
    c = F.col(col) if isinstance(col, str) else col
    toks = F.split(c, r"\s+")
    return F.array_distinct(
        F.filter(toks, lambda t: F.length(t) >= F.lit(min_len))
    )


def token_count(col: Column | str) -> Column:
    """Whitespace token count (words separated by the explicit
    whitespace class; empty fragments don't count). For a
    tokenizer-shaped estimate use :func:`token_count_bpe`."""
    c = F.col(col) if isinstance(col, str) else col
    # explicit class (not \s): Java \s has \x0B, RE2 \s does not
    toks = F.split(F.trim(c), r"[ \t\n\r\f\x0B]+")
    return F.size(F.filter(toks, lambda t: t != F.lit("")))


# GPT-2-style pre-tokenizer classes: letter runs, digit runs, and
# non-letter/digit/space symbol runs each become one token. \p{L}/\p{N}
# have identical semantics in Java regex and RE2/DuckDB; whitespace is
# the explicit class (Java \s ⊃ RE2 \s).
BPE_TOKEN_PATTERN = r"[\p{L}]+|[\p{N}]+|[^\p{L}\p{N} \t\n\r\f\x0B]+"


def token_count_bpe(col: Column | str) -> Column:
    """Tokenizer-shaped token count: one token per letter run, digit
    run, or punctuation/symbol run (the GPT-2 pre-tokenizer's split
    classes, minus byte-level merges). Counts what a real BPE vocab
    would see as merge INPUT units — a far better length estimate for
    packing/budgeting (q43's consumer) than whitespace words on
    punctuation-heavy or CJK-adjacent text, while staying a pure
    codegen ``regexp_count`` any SQL engine reproduces."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_count(c, F.lit(BPE_TOKEN_PATTERN))


LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is", "in", "that", "it", "for", "with"],
    "es": ["el", "la", "de", "que", "los", "las", "una", "por", "con", "para"],
    "fr": ["le", "les", "des", "est", "dans", "une", "pour", "que", "pas", "sur"],
    "de": ["der", "die", "und", "ist", "das", "nicht", "ein", "mit", "von", "auf"],
}


def language_id(col: Column | str) -> Column:
    """Cheap stopword-voting language heuristic over a text column.

    Tokenizes once (strip non-letters, split, distinct) and scores each
    language as ``|tokens ∩ marker_words|``; argmax wins, 'und' when no
    marker fires. One regex + set intersections — a deliberately tiny
    expression tree (a 40-way ``contains`` chain costs ~30 s of codegen
    per cold JVM; this form compiles in milliseconds). The real
    classifier at scale would be a broadcast model in a pandas UDF;
    this exercises the same pipeline shape.
    """
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    words = F.array_distinct(F.split(F.regexp_replace(c, r"[^\p{L}\s]+", " "), r"\s+"))

    def hits(ws: list[str]) -> Column:
        return F.size(F.array_intersect(words, F.array(*[F.lit(w) for w in ws])))

    en, es, fr, de = (hits(LANG_MARKERS[k]) for k in ("en", "es", "fr", "de"))
    best = F.greatest(en, es, fr, de)
    return (
        F.when(best == 0, F.lit("und"))
        .when(en == best, F.lit("en"))
        .when(es == best, F.lit("es"))
        .when(fr == best, F.lit("fr"))
        .otherwise(F.lit("de"))
    )


def quality_score(col: Column | str) -> Column:
    """Document quality score in [0,1]: blend of length band,
    alpha ratio, and punctuation sanity. Deterministic, pure-expression
    — the standard cheap pre-filter before expensive dedup stages.
    """
    c = F.col(col) if isinstance(col, str) else col
    n = F.length(c).cast("double")
    alpha = F.length(F.regexp_replace(c, r"[^\p{L}]", "")).cast("double")
    punct = F.length(F.regexp_replace(c, r"[^.,;:!?]", "")).cast("double")
    len_score = F.when(n < 20, n / 20.0).when(n > 20000, F.lit(0.5)).otherwise(F.lit(1.0))
    alpha_ratio = F.when(n > 0, alpha / n).otherwise(F.lit(0.0))
    punct_ratio = F.when(n > 0, punct / n).otherwise(F.lit(0.0))
    punct_score = F.when(punct_ratio > 0.2, F.lit(0.2)).otherwise(F.lit(1.0))
    return F.round(len_score * 0.4 + alpha_ratio * 0.4 + punct_score * 0.2, 6)


def doc_fingerprint(col: Column | str) -> Column:
    """Content fingerprint: md5 of the whitespace/case-normalized text.

    Used for exact dedup; md5 (not Spark's murmur ``hash``) so DuckDB
    computes the identical value for the oracle diff.
    """
    c = F.col(col) if isinstance(col, str) else col
    # Explicit class (not \s): Java \s has \x0B, RE2 \s does not.
    normalized = F.trim(F.regexp_replace(F.lower(c), r"[ \t\n\r\f\x0B]+", " "))
    return F.md5(F.encode(normalized, "UTF-8"))
