"""Text-analysis functions for the documents table — pure Column exprs.

Everything here is built from native higher-order functions
(`split` / `filter` / `transform` / `aggregate`) so it runs inside
whole-stage codegen — no Python in the hot path. Each function has a
mechanical ANSI/DuckDB-SQL equivalent (see plans/queries.py) used by
the correctness oracle.

These are the north-star "training-data pipeline" ops: tokenization,
language-ID (stopword n-gram heuristic), quality scoring, document
fingerprinting, and shingling for the dedup family.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language function-word lists for the heuristic language
# identifier. Scores are overlap counts; priority order breaks ties.
STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "it"],
    "es": ["el", "la", "de", "y", "que", "en", "un", "es"],
    "fr": ["le", "la", "de", "et", "que", "en", "un", "est"],
    "de": ["der", "die", "das", "und", "zu", "in", "ein", "ist"],
    "zh": ["de", "shi", "bu", "le", "zai", "you", "wo", "ta"],
}
LANG_PRIORITY = ["en", "es", "fr", "de", "zh"]


def tokens(col: Column | str) -> Column:
    """Whitespace tokenization, empty tokens dropped."""
    c = F.col(col) if isinstance(col, str) else col
    return F.filter(F.split(c, r"\s+"), lambda x: x != "")


def token_count(col: Column | str) -> Column:
    return F.size(tokens(col))


def stopword_hits(toks: Column, lang: str) -> Column:
    """Occurrence count of ``lang``'s stopwords among tokens."""
    words = STOPWORDS[lang]
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_id(col: Column | str) -> Column:
    """Heuristic language ID: argmax of stopword-hit counts, ties
    broken by LANG_PRIORITY order; NULL-scores impossible (size>=0).
    Expressed as a CASE chain so the oracle SQL is mechanical."""
    toks = tokens(col)
    scores = {lang: stopword_hits(toks, lang) for lang in LANG_PRIORITY}
    expr = F.lit(LANG_PRIORITY[-1])
    for lang in reversed(LANG_PRIORITY[:-1]):
        later = [scores[o] for o in LANG_PRIORITY[LANG_PRIORITY.index(lang) + 1 :]]
        cond = None
        for o in later:
            c = scores[lang] >= o
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(lang)).otherwise(expr)
    return expr


def quality_score_raw(col: Column | str) -> Column:
    """Composite [0,1] quality score: length, mean token length,
    stopword ratio. Deterministic closed-form double."""
    c = F.col(col) if isinstance(col, str) else col
    toks = tokens(c)
    n = F.size(toks).cast("double")
    len_score = F.least(F.lit(1.0), n / F.lit(100.0))
    avg_tok = F.when(n > 0, F.length(F.concat_ws("", toks)).cast("double") / n).otherwise(
        F.lit(0.0)
    )
    avg_score = F.least(F.lit(1.0), avg_tok / F.lit(8.0))
    sw = stopword_hits(toks, "en").cast("double")
    sw_ratio = F.when(n > 0, sw / n).otherwise(F.lit(0.0))
    return F.lit(0.4) * len_score + F.lit(0.3) * avg_score + F.lit(0.3) * sw_ratio


def quality_score(col: Column | str) -> Column:
    """quality_score_raw scaled to an integer (×10⁴, floored).

    floor() after float scaling is bit-deterministic across engines,
    unlike round(): Spark rounds in decimal space while DuckDB rounds
    in double space, and they disagree on values whose scaled double
    lands exactly on .5 (observed on real data)."""
    return F.floor(quality_score_raw(col) * F.lit(10000.0)).cast("long")


def normalize(col: Column | str) -> Column:
    """Canonical text form: lowercase, every character outside
    ``[a-z0-9 ]`` to a space, space runs collapsed, trimmed. Patterns
    are Java-regex/RE2-identical constructs."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(
        F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9 ]", " "), " +", " ")
    )


def fingerprint(col: Column | str) -> Column:
    """Order-insensitive document fingerprint: md5 of the sorted
    distinct token set (the classic "fingerprint" clustering key)."""
    return F.md5(F.concat_ws(" ", F.array_sort(F.array_distinct(tokens(col)))))


def word_shingles(col: Column | str, n: int = 3) -> Column:
    """Array of word n-gram shingles (space-joined).

    PERF NOTE: `transform` is a CodegenFallback (interpreted) HOF, so
    the lambda body — which references the full `tokens()` expression
    tree — is re-evaluated once PER ELEMENT: O(words²) per document.
    Fine for one-off expressions; in hot paths use
    `word_shingle_arrays` (a two-projection form whose lambda slices
    an already-materialized array attribute — measured ~3.5× faster
    on the documents table)."""
    toks = tokens(col)
    return F.transform(_shingle_idx(toks, n), lambda i: F.concat_ws(" ", F.slice(toks, i, n)))


def _shingle_idx(toks: Column, n: int) -> Column:
    """Start indices 1..(len-n+1) for n-gram windows; EMPTY when the
    doc has fewer than n tokens. (A bare ``sequence(1, len-n+1)``
    would descend — ``sequence(1, 0)`` is ``[1, 0]``, yielding bogus
    windows and an ANSI slice error at start 0 for short docs.)"""
    return F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))


def word_shingle_arrays(
    df,
    n: int = 3,
    text_col: str = "text",
    out_col: str = "sh_arr",
    keep: list[str] | None = None,
    distinct: bool = True,
):
    """Distinct word-shingle array per row, computed via a projection
    barrier: tokens are materialized as a column in a first Project,
    so the shingling lambda slices a bound array attribute instead of
    re-running split+filter per element (CollapseProject will not
    inline a non-trivial alias referenced more than once — the
    barrier survives optimization). Keeps ``keep`` columns (default:
    all input columns) plus ``out_col``."""
    keep = list(df.columns) if keep is None else keep
    toks_col = "_ws_toks"
    with_toks = df.withColumn(toks_col, tokens(text_col))
    idx = _shingle_idx(F.col(toks_col), n)
    sh = F.transform(idx, lambda i: F.concat_ws(" ", F.slice(F.col(toks_col), i, n)))
    if distinct:
        sh = F.array_distinct(sh)
    return with_toks.select(*keep, sh.alias(out_col))


def char_shingles(col: Column | str, n: int = 5) -> Column:
    """Array of character n-gram shingles."""
    c = F.col(col) if isinstance(col, str) else col
    idx = F.when(
        F.length(c) >= n, F.sequence(F.lit(1), F.length(c) - F.lit(n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(idx, lambda i: F.substring(c, i, n))
