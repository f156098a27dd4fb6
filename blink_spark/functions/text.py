"""Text canonicalization and analysis as JVM-side column expressions.

Reference analogs (SURVEY.md §2.2/§2.8): lowercase-everything normalization
(``blink/main_dense.py:84-94``), token counting
(``process_wiki_extractor_output_full.py:52-94``), context windows
(``blink/candidate_retrieval/utils.py:198-250``). All of these stay inside
whole-stage codegen — no Python in the loop.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def canonicalize(col: Column) -> Column:
    """Lowercase, collapse whitespace, trim — the engine's P1 normalization.

    Reference: "LOWERCASE EVERYTHING" ``blink/main_dense.py:84-94``.
    Used to build blocking/scoring features ONLY — the stored turn text is
    never mutated (per-turn text-equality invariant, BASELINE.json).
    """
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(col: Column) -> Column:
    """Whitespace tokens of canonicalized text."""
    return F.split(canonicalize(col), " ")


def token_count(col: Column) -> Column:
    """Number of whitespace tokens (0 for empty text)."""
    t = canonicalize(col)
    return F.when(F.length(t) == 0, F.lit(0)).otherwise(F.size(F.split(t, " ")))


def word_window(col: Column, last_n: int, first_n: int) -> Column:
    """Last ``last_n`` + first ``first_n`` words — the reference's context
    truncation (``blink/candidate_retrieval/utils.py:198-208``)."""
    t = tokens(col)
    return F.concat_ws(
        " ",
        F.array_join(F.slice(t, -last_n, last_n), " "),
        F.array_join(F.slice(t, 1, first_n), " "),
    )


def token_ngrams_from_tokens(t: Column, n: int = 3) -> Column:
    """Array of n-token shingles from an ALREADY-MATERIALIZED token array
    column. Callers must project the token array into a named column
    first: inlining ``tokens(col)`` here would re-evaluate the
    canonicalize regex once per ``element_at`` — 3n× per gram (measured
    ~4× slowdown of the whole n-gram stage)."""
    grams = F.transform(
        F.sequence(F.lit(1), F.size(t) - F.lit(n - 1)),
        lambda i: F.concat_ws(" ", *[F.element_at(t, (i + F.lit(j)).cast("int")) for j in range(n)]),
    )
    return F.when(F.size(t) >= n, grams).otherwise(F.array(F.array_join(t, " ")))


def context_quota_window(left: Column, mention: Column, right: Column, max_tokens: int) -> Column:
    """P10: token-budget context window with left/right quota redistribution
    (`blink/biencoder/data_process.py:26-69`, quota logic `:45-57`).

    Base quotas: ``left = (max - |mention|) // 2 - 1``,
    ``right = max - |mention| - left - 2`` (the reference reserves 2 slots
    for [CLS]/[SEP]; kept for parity). If one context is shorter than its
    quota while the other overflows, the unused slots move to the long
    side. Pure column expressions — no UDF.

    One deliberate divergence: quotas are clamped at 0. The reference's
    ``left[-left_quota:]`` with quota 0 is Python's ``[-0:]`` — the WHOLE
    left context, exceeding the budget; we take the empty window instead.
    """
    la, ra, ma = F.size(left), F.size(right), F.size(mention)
    lq0 = F.floor((F.lit(max_tokens) - ma) / 2).cast("int") - 1
    rq0 = F.lit(max_tokens) - ma - lq0 - 2
    rq = F.when((la <= lq0) & (ra > rq0), rq0 + lq0 - la).otherwise(rq0)
    lq = F.when((la > lq0) & (ra <= rq0), lq0 + rq0 - ra).otherwise(lq0)
    take_l = F.greatest(F.least(la, lq), F.lit(0)).cast("int")
    take_r = F.greatest(F.least(ra, rq), F.lit(0)).cast("int")
    # slice start −0 is invalid, so the empty-take case is explicit
    left_part = F.when(take_l > 0, F.slice(left, -take_l, take_l)).otherwise(
        F.array().cast("array<string>")
    )
    right_part = F.slice(right, 1, take_r)
    return F.concat(left_part, mention, right_part)


def quality_features(col: Column) -> dict[str, Column]:
    """Cheap document-quality signals for training-data pipelines:
    length, punctuation ratio, stopword ratio, mean word length, alpha ratio."""
    t = canonicalize(col)
    n_chars = F.length(t)
    toks = F.split(t, " ")
    n_tokens = F.when(n_chars == 0, F.lit(0)).otherwise(F.size(toks))
    stopwords = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "it"]
    stop_hits = F.size(F.filter(toks, lambda w: w.isin(stopwords)))
    n_punct = n_chars - F.length(F.regexp_replace(t, r"[^\w\s]", ""))
    n_alpha = F.length(F.regexp_replace(t, r"[^a-z]", ""))
    return {
        "n_chars": n_chars,
        "n_tokens": n_tokens,
        "punct_ratio": F.when(n_chars == 0, F.lit(0.0)).otherwise(n_punct / n_chars),
        "stopword_ratio": F.when(n_tokens == 0, F.lit(0.0)).otherwise(stop_hits / n_tokens),
        "mean_word_len": F.when(n_tokens == 0, F.lit(0.0)).otherwise(
            F.length(F.regexp_replace(t, r"\s", "")) / n_tokens
        ),
        "alpha_ratio": F.when(n_chars == 0, F.lit(0.0)).otherwise(n_alpha / n_chars),
    }


# tiny per-language stopword lists for the n-gram language-ID heuristic
_LANG_MARKERS = {
    "en": ["the", "and", "of", "to", "is"],
    "es": ["el", "la", "de", "que", "los"],
    "de": ["der", "die", "und", "das", "ist"],
    "fr": ["le", "la", "les", "des", "est"],
}


def lang_id_heuristic(col: Column) -> Column:
    """Marker-word-voting language ID: argmax over per-language stopword hits,
    'und' (undetermined) when no marker fires."""
    toks = tokens(col)
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda w: w.isin(markers))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, markers in sorted(_LANG_MARKERS.items())
    ]
    best = F.array_max(F.array(*scores))
    return F.when(best["hits"] > 0, best["lang"]).otherwise(F.lit("und"))


def fingerprint(col: Column) -> Column:
    """64-bit stable document fingerprint of canonicalized text (xxhash64)."""
    return F.xxhash64(canonicalize(col))


# Lucene query metacharacters, per the reference's ESCAPE_CHARS_RE
# (`blink/candidate_retrieval/utils.py:15`).
_SOLR_SPECIALS = r'([&|+\-!(){}\[\]/^"~*?:])'


def solr_escape(col: Column) -> Column:
    """P7: Lucene/Solr query escaping (`blink/candidate_retrieval/utils.py:18-30`;
    the same helper is repeated verbatim at `blink/candidate_generation.py:123-136`).

    Behavior mirrored: a whole-string bare boolean operator (``OR``/``AND``)
    is lowercased as-is; otherwise bare interior/leading/trailing operators
    are lowercased and then every Lucene metacharacter is backslash-escaped.
    All regexp_replace — JVM-side, codegen-friendly, no UDF.

    Two documented divergences, both for cross-engine (Java-regex vs RE2)
    portability:

    * the reference skips characters already preceded by a backslash via a
      ``(?<!\\\\)`` lookbehind; RE2 (the DuckDB oracle's engine) has no
      lookbehind, so this escaper requires RAW (never pre-escaped) input —
      exactly how the reference calls it, on mention text straight from the
      corpus;
    * in an adjacent operator run the reference's single alternation pass
      lowers only alternate tokens ("x OR AND y" → "x or AND y", a regex
      non-overlap artifact, not intent); the per-operator passes here share
      that artifact per operator but lower both operators of a mixed run.
    """
    c = col
    for op, low in (("OR", "or"), ("AND", "and")):
        c = F.regexp_replace(c, rf"(\s){op}(\s)", f"$1{low}$2")
        c = F.regexp_replace(c, rf"^{op}(\s)", f"{low}$1")
        c = F.regexp_replace(c, rf"(\s){op}$", f"$1{low}")
    c = F.regexp_replace(c, _SOLR_SPECIALS, r"\\$1")
    return F.when(col.isin("OR", "AND"), F.lower(col)).otherwise(c)
