"""Text-analysis column builders (beyond-reference north-star ops).

Pure ``pyspark.sql.functions`` column expressions — JVM-side, codegen'd, no
Python UDFs anywhere in the hot path. Each has an exactly-equivalent ANSI
SQL form used by the DuckDB oracles in ``queries/text.py``.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# language marker words for the n-gram/stopword language-ID heuristic.
# Priority (ties resolve to the earlier entry): en > de > es > fr > zh.
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "a"],
    "de": ["der", "die", "das", "und", "ist"],
    "es": ["el", "la", "de", "que", "y"],
    "fr": ["le", "la", "et", "les", "des"],
    "zh": ["de", "le", "shi", "zai", "he"],
}

STOPWORDS = ["the", "a", "of", "and", "to", "in", "is", "it"]


def stopword_ratio(tokens: Column) -> Column:
    """Share of ``tokens`` that are ``STOPWORDS``."""
    return F.size(F.filter(tokens, lambda t: t.isin(*STOPWORDS))) / F.size(tokens)


def punct_ratio(col: str | Column = "text") -> Column:
    """Share of the characters of ``col`` that are ``.,!?;:`` (null on
    empty text)."""
    c = F.col(col) if isinstance(col, str) else col
    return (
        F.length(c) - F.length(F.regexp_replace(c, "[.,!?;:]", ""))
    ) / F.nullif(F.length(c), F.lit(0))


def quality_score(tokens: Column, text: str | Column = "text") -> Column:
    """Heuristic pre-training quality of a document from its ``tokens``
    and raw ``text``: stopword ratio, punctuation ratio and length
    saturation at 100 tokens, weighted 0.3/0.2/0.5. The oracles spell
    the same formula in SQL."""
    stop_ratio = stopword_ratio(tokens)
    return (
        stop_ratio * 0.3
        + (F.lit(1) - punct_ratio(text)) * 0.2
        + F.least(F.size(tokens) / F.lit(100), F.lit(1.0)) * 0.5
    )


def tokenize(col: str | Column, sep: str = " ") -> Column:
    """Whitespace tokenization: ``split(trim(text), ' ')``."""
    c = F.col(col) if isinstance(col, str) else col
    return F.split(F.trim(c), sep)


def shingles(tokens: Column, k: int = 3) -> Column:
    """Token k-grams; a doc shorter than k tokens contributes its whole
    token string as the single shingle (so no doc has zero shingles)."""
    joined = F.array_join(tokens, " ")
    make = F.transform(
        F.sequence(F.lit(0), F.size(tokens) - k),
        lambda i: F.concat_ws(
            " ", *[F.element_at(tokens, i + j + 1) for j in range(k)]
        ),
    )
    return F.when(F.size(tokens) >= k, make).otherwise(F.array(joined))


def distinct_shingles(text: str | None, k: int = 3) -> list:
    """Python form of ``array_distinct(shingles(tokenize(text), k))`` for
    the Arrow passes, value-identical to the column expression: ``F.trim``
    strips spaces only and ``F.split(" ")`` keeps empty tokens (so
    ``strip(" ")``/``split(" ")``); a doc shorter than ``k`` tokens is
    one whole-string shingle; distinct keeps first-occurrence order; a
    null text gives ``[None]`` (``split(trim(null))`` is null and the
    short-doc branch wraps it)."""
    if text is None:
        return [None]
    toks = text.strip(" ").split(" ")
    if len(toks) < k:
        return [" ".join(toks)]
    return list(
        dict.fromkeys(" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1))
    )


def window_hashes(text: str | None, k: int = 3) -> list:
    """Python form of the distinct values of
    ``transform(shingles(tokenize(text), k), md5)`` for the driver-side
    passes: the md5 hex digest of every ``distinct_shingles`` window of
    the UTF-8 text, distinct in first-occurrence order. A null text
    gives ``[None]`` (md5 of the null shingle); an empty or
    whitespace-only text is the one window ``md5("")``."""
    import hashlib

    md5 = hashlib.md5
    return list(
        dict.fromkeys(
            None if s is None else md5(s.encode("utf-8")).hexdigest()
            for s in distinct_shingles(text, k)
        )
    )


def language_scores(tokens: Column) -> dict[str, Column]:
    """Marker-word hit count per language."""
    return {
        lang: F.size(F.filter(tokens, lambda t: t.isin(*markers)))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_language(tokens: Column) -> Column:
    """Deterministic argmax over language scores (ties → priority order)."""
    scores = language_scores(tokens)
    langs = list(LANG_MARKERS)
    # CASE chain in priority order: the first language whose score is >=
    # every other's wins, so ties resolve to the earlier (higher-priority)
    # entry — same shape as the SQL oracle's CASE.
    out = None
    for lang in langs:
        cond = None
        for other in langs:
            if other == lang:
                continue
            term = scores[lang] >= scores[other]
            cond = term if cond is None else (cond & term)
        out = F.when(cond, F.lit(lang)) if out is None else out.when(cond, F.lit(lang))
    return out.otherwise(F.lit(langs[0]))


BPE_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def regex_tokenize(col: str | Column, pattern: str = BPE_PATTERN) -> Column:
    """BPE-ish pre-tokenization: letter runs, digit runs, and single
    punctuation marks as separate tokens (the GPT-2-style split BEFORE
    byte-pair merges). The default pattern is deliberately limited to
    syntax that Java regex (Spark) and RE2 (DuckDB/oracle) interpret
    identically."""
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_extract_all(c, F.lit(pattern), 0)


def rolling_hashes(col: str | Column, k: int = 8) -> Column:
    """Hash of every k-char window of the text — the rolling-hash stream
    winnowing selects from. Short docs (< k chars) hash whole. The hash is
    the first 8 hex chars of md5: a 32-bit-entropy STRING, so minima are
    lexicographic and identical in any engine with md5 (the oracle
    requirement; crc32 exists only on the Spark side)."""
    c = F.col(col) if isinstance(col, str) else col
    grams = F.transform(
        F.sequence(F.lit(1), F.greatest(F.length(c) - k + 1, F.lit(1))),
        lambda i: F.substring(F.md5(F.substring(c, i, k)), 1, 8),
    )
    return grams


def winnow_fingerprints(col: str | Column, k: int = 8, w: int = 4) -> Column:
    """Winnowing (Schleimer/Wilkerson/Aiken 2003): the distinct minima of
    each w-length window over the rolling k-gram hash stream — a compact,
    position-robust document fingerprint set; near-identical docs share
    most fingerprints even under insertion/reordering edits.

    Pure array expressions (sequence/transform/slice/array_min), so the
    fingerprint is a narrow per-row map — embarrassingly parallel."""
    hs = rolling_hashes(col, k)
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(hs) - w + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return F.array_sort(F.array_distinct(mins))


def winnow_table(
    df,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    w: int = 4,
):
    """Winnowing as a two-projection plan: the rolling-hash array is bound
    to a real column FIRST, then the window minima reference that column.

    This boundary matters: inlined as one expression (the plain
    `winnow_fingerprints` column), Catalyst substitutes the whole
    rolling-hash `transform` into every window-minimum lambda and the
    hash stream is recomputed per window — O(len^2) md5 calls per doc.
    Bound as a column (non-cheap, multiply-referenced, so CollapseProject
    keeps the projection), it is computed once — O(len).
    """
    hs = F.col("__hs")
    mins = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(hs) - w + 1, F.lit(1))),
        lambda i: F.array_min(F.slice(hs, i, w)),
    )
    return df.select(F.col(id_col), rolling_hashes(text_col, k).alias("__hs")).select(
        id_col, F.array_sort(F.array_distinct(mins)).alias("fingerprints")
    )
