"""Text-analysis column functions: normalization, fingerprinting,
tokenization, shingling, quality metrics, language scoring.

All pure ``F.*`` expression trees (whole-stage codegen; zero Python in the
row path). Each has a documented DuckDB-SQL equivalent used by the oracle
queries, so semantics are pinned cross-engine.
"""

from __future__ import annotations

from typing import Dict, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

# BPE-ish pre-tokenizer: alphabetic runs | digit runs | single non-space
# symbols — the common GPT-2-style pre-split shape, kept RE2-compatible so
# the same pattern runs in DuckDB.
BPE_PATTERN = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

# tiny per-language stopword profiles for the n-gram/stopword language-ID
# heuristic (word-boundary alternations; RE2- and Java-regex-compatible)
LANG_PROFILES: Dict[str, str] = {
    "en": r"\b(the|and|of|to|is|in|that|it|for|with)\b",
    "de": r"\b(der|die|das|und|ist|nicht|mit|ein|eine|zu)\b",
    "fr": r"\b(le|la|les|et|est|une|dans|que|pour|pas)\b",
    "es": r"\b(el|los|las|es|una|en|que|por|para|con)\b",
    "zh": r"(的|是|了|在|和|有|不|人|这|中)",
}


def normalize_text(col: Column) -> Column:
    """Lowercase + collapse whitespace + trim.
    DuckDB: ``trim(regexp_replace(lower(x), '\\s+', ' ', 'g'))``."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def fingerprint(col: Column) -> Column:
    """Document fingerprint: md5 of the normalized text. Identical on every
    engine; the exact-dedup key (hash-groupBy shuffles 32 bytes, not the
    document)."""
    return F.md5(normalize_text(col))


def words(col: Column) -> Column:
    """Whitespace tokens of the normalized text (array<string>).
    DuckDB: ``string_split(<normalized>, ' ')``."""
    return F.split(normalize_text(col), " ")


def token_count(col: Column) -> Column:
    """Whitespace token count. Empty text → 0.

    Counted as single-space matches + 1 in the collapsed text rather
    than ``size(split(...))`` — same number (normalize_text guarantees
    single-space separators, no leading/trailing), but no per-row token
    ARRAY is allocated just to take its length (bit-identical over sf10;
    ``bench_textstats_probe_sf10.json``, SCALE.md "Retired probe
    scripts")."""
    norm = normalize_text(col)
    return F.when(norm == "", F.lit(0)).otherwise(
        F.regexp_count(norm, F.lit(" ")) + 1
    ).cast("long")


def bpe_token_count(col: Column) -> Column:
    """BPE-ish token count via regexp matches.
    DuckDB: ``len(regexp_extract_all(x, pattern))``."""
    return F.regexp_count(col, F.lit(BPE_PATTERN)).cast("long")


_ASCII_LETTERS = (
    "ABCDEFGHIJKLMNOPQRSTUVWXYZabcdefghijklmnopqrstuvwxyz"
)


def quality_alpha_ratio(col: Column) -> Column:
    """Alphabetic-character ratio — a standard cheap quality signal.
    DuckDB: ``len(regexp_replace(x,'[^A-Za-z]','','g'))*1.0/nullif(len(x),0)``.

    Counted as ``length - length(translate(col, letters, ''))`` — a
    char-map lookup with NO regex engine in the loop. Three
    formulations were measured head-to-head at sf10 (value-equivalent
    by full-column comparison): ``length(regexp_replace(...))`` is fast
    standalone but doubles text_stats' wide stat row (8.8 vs 5.2 s);
    ``regexp_count('[A-Za-z]')`` fixes text_stats but runs the
    per-char matcher loop everywhere (quality_gate_docs 2.55 → 4.46 s,
    caught by the r9 paired A/B); ``translate`` matches the best of
    both in BOTH shapes (text_stats 5.2 s, quality_gate 2.9 s)."""
    alpha = F.length(col) - F.length(F.translate(col, _ASCII_LETTERS, ""))
    return alpha * 1.0 / F.nullif(F.length(col), F.lit(0))


def shingles_from_words(w: Column, k: int = 3, distinct: bool = True) -> Column:
    """Word k-shingles from an (already materialized) token-array
    column — distinct by default; ``distinct=False`` keeps every
    positional occurrence (index i of the result = shingle starting at
    token i, which span-level dedup relies on). Prefer this over
    :func:`word_shingles` in staged plans: ``w`` is referenced k+1 times
    here, so it should be a plain column, not an inlined tokenization
    expression (Catalyst does not CSE across array lambdas)."""
    idx = F.sequence(F.lit(0), F.size(w) - k)
    shingle = F.transform(
        idx,
        lambda i: F.concat_ws(
            " ", *[F.element_at(w, (i + j + 1).cast("int")) for j in range(k)]
        ),
    )
    # guard: sequence(0, n) with n < 0 DESCENDS ([0, -1, ...]) instead of
    # being empty, and element_at would then index out of bounds — short
    # documents must yield an empty shingle array
    out = F.array_distinct(shingle) if distinct else shingle
    return F.when(F.size(w) >= k, out).otherwise(
        F.array().cast("array<string>")
    )


def word_shingles(col: Column, k: int = 3) -> Column:
    """Distinct word k-shingles (array<string>) of the normalized text.
    Documents shorter than k words yield an empty array.

    DuckDB equivalent:
    ``list_distinct(list_transform(range(1, len(w)-k+2),
    i -> w[i] || ' ' || ... || w[i+k-1]))``.

    The token array is BOUND as a lambda variable (the
    ``transform(array(w), ws -> ...)`` binding, as in
    :func:`repetition_struct`) before the shingle lambda indexes it:
    ``shingles_from_words`` references its input k+1 times per element,
    and an INLINED tokenization expression is re-evaluated on every
    reference — the whole normalize+split regex pass per shingle slot
    (measured 3.5 s vs 0.63 s for the sf0.1 shingle stream,
    value-identical). Staged plans that materialize the token array in
    a projection (`decontaminate`, `spandedup`) are marginally faster
    still; this binding makes the one-shot form safe by construction.
    """
    return F.get(
        F.transform(
            F.array(words(col)), lambda ws: shingles_from_words(ws, k)
        ),
        0,
    )


def lang_scores(col: Column) -> Dict[str, Column]:
    """Per-language stopword-hit counts (the language-ID signal)."""
    return {
        lang: F.regexp_count(normalize_text(col), F.lit(pat))
        for lang, pat in LANG_PROFILES.items()
    }


def lang_id(col: Column, langs: Sequence[str] = tuple(LANG_PROFILES)) -> Column:
    """Argmax language by stopword hits, ties broken by ``langs`` order;
    no hits at all → 'und' (undetermined)."""
    scores = lang_scores(col)
    best = F.greatest(*[scores[lang] for lang in langs])
    expr = F.when(best == 0, F.lit("und"))
    for lang in langs:
        expr = expr.when(scores[lang] == best, F.lit(lang))
    return expr


def repetition_struct(col: Column) -> Column:
    """Gopher-style within-document repetition signals — the standard
    filters for boilerplate / degenerate generations in pre-training
    corpora (Rae et al. 2021 §A1.1; C4 uses similar line-level rules).

    Returns struct<dup_word_ratio, top_word_ratio, top_bigram_ratio>:

    - ``dup_word_ratio``: 1 − distinct/total words (1-gram repetition)
    - ``top_word_ratio``: frequency share of the most common word
    - ``top_bigram_ratio``: frequency share of the most common 2-gram

    Pure scan-side array lambdas, zero shuffle; O(words × distinct
    words) per document. CRITICAL plan shape: the token and bigram
    arrays are BOUND as lambda variables (``transform(array(w),
    ws -> ...)``) before any per-element use. An expression referenced
    inside a higher-order-function lambda is re-evaluated per ELEMENT —
    with the raw tokenization inlined that made every element cost a
    regex pass over the document, measured 500+ s for 5 k docs vs
    sub-second with the binding (same trap `shingles_from_words`
    documents). DuckDB's list lambdas bind their inputs natively, so
    the oracle twin needs no such care.
    """

    def _stats(ws: Column) -> Column:
        n = F.size(ws)
        nd = n.cast("double")
        counts = F.transform(
            F.array_distinct(ws),
            lambda x: F.size(F.filter(ws, lambda y: y == x)),
        )
        bigrams = F.when(
            n >= 2,
            F.transform(
                F.sequence(F.lit(0), n - 2),
                lambda i: F.concat_ws(
                    " ",
                    F.element_at(ws, (i + 1).cast("int")),
                    F.element_at(ws, (i + 2).cast("int")),
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))

        def _bg_stats(bg: Column) -> Column:
            bcounts = F.transform(
                F.array_distinct(bg),
                lambda x: F.size(F.filter(bg, lambda y: y == x)),
            )
            return F.struct(
                F.round(
                    F.lit(1.0)
                    - F.size(F.array_distinct(ws)) / F.nullif(nd, F.lit(0.0)),
                    6,
                ).alias("dup_word_ratio"),
                F.round(
                    F.array_max(counts) / F.nullif(nd, F.lit(0.0)), 6
                ).alias("top_word_ratio"),
                F.round(
                    F.array_max(bcounts)
                    / F.nullif(F.size(bg).cast("double"), F.lit(0.0)),
                    6,
                ).alias("top_bigram_ratio"),
            )

        # bind the bigram array too: it is scanned per distinct bigram
        return F.get(F.transform(F.array(bigrams), _bg_stats), 0)

    return F.get(F.transform(F.array(words(col)), _stats), 0)


def repetition_signals(col: Column) -> Dict[str, Column]:
    """Dict view of :func:`repetition_struct` fields. Select the struct
    ONCE and project its fields when using several signals — three
    independent dict entries are three copies of the expression tree."""
    s = repetition_struct(col)
    return {
        k: s[k]
        for k in ("dup_word_ratio", "top_word_ratio", "top_bigram_ratio")
    }


# PII / noise scrubbing patterns — RE2- and Java-regex compatible (no
# lookaround), applied URL -> email -> number so URL digits and email
# digits are consumed before standalone-number masking. DuckDB twin:
# regexp_replace(x, pat, repl, 'g') in the same order.
SCRUB_PATTERNS: Sequence = (
    (r"https?://\S+", "<URL>"),
    (r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    (r"[0-9]+", "<NUM>"),
)


def scrub_text(col: Column) -> Column:
    """Mask URLs, emails and numbers with typed placeholder tokens —
    the standard pre-training text-cleaning pass. Pure chained
    ``regexp_replace`` (codegen; Java replaces ALL matches by default,
    mirror with DuckDB's 'g' flag)."""
    out = col
    for pat, repl in SCRUB_PATTERNS:
        out = F.regexp_replace(out, pat, repl)
    return out
