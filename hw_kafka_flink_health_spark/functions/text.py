"""Text-analysis expressions for the documents table.

Everything here is a Catalyst expression over built-in functions — no
Python in the hot path. These power the text-analysis queries (language
ID, quality scoring, token counting, fingerprinting) that a training-data
pipeline runs over billions of documents.

Extension surface (SURVEY §2.C): text analysis mandated beyond the reference's scalar set (SURVEY §2.A: only parse/classify scalars).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Tiny per-language stopword sets for the n-gram/stopword-hit heuristic.
# Ordered dict: priority order used for deterministic argmax tie-breaks.
LANG_STOPWORDS: dict[str, list[str]] = {
    "en": ["the", "a", "of", "and", "to", "in", "is"],
    "es": ["el", "la", "de", "los", "y", "que", "en"],
    "fr": ["le", "la", "les", "et", "des", "un", "une"],
    "de": ["der", "die", "das", "und", "ist", "ein", "nicht"],
}


def tokens_expr(text: Column | str) -> Column:
    """Whitespace tokens (plain split — documents are space-separated)."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(c, " ")


def regex_token_count_expr(text: Column | str) -> Column:
    """BPE-ish token count: words and individual punctuation marks."""
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(c, F.lit(r"\w+|[^\w\s]"), 0)).cast("long")


def stopword_hits_expr(toks: Column, words: list[str]) -> Column:
    """How many tokens are in the given stopword list (with multiplicity)."""
    return F.size(F.filter(toks, lambda x: x.isin(*words)))


def lang_id_expr(toks: Column) -> Column:
    """Deterministic stopword-scoring language ID.

    Chain of >= comparisons in fixed priority order (en, es, fr, de) —
    the argmax with deterministic ties, expressible identically in any
    SQL engine (important for oracle checking).
    """
    scores = {
        lang: stopword_hits_expr(toks, words) for lang, words in LANG_STOPWORDS.items()
    }
    langs = list(LANG_STOPWORDS)
    expr = F.lit(langs[-1])
    # build from the back: ... WHEN s_fr >= s_de THEN 'fr' ELSE 'de'
    for i in range(len(langs) - 2, -1, -1):
        cond = None
        for j in range(i + 1, len(langs)):
            c = scores[langs[i]] >= scores[langs[j]]
            cond = c if cond is None else (cond & c)
        expr = F.when(cond, F.lit(langs[i])).otherwise(expr)
    return expr


def distinct_ratio_expr(toks: Column) -> Column:
    """Vocabulary richness: distinct tokens / total tokens."""
    return F.size(F.array_distinct(toks)).cast("double") / F.size(toks)


def avg_token_len_expr(toks: Column) -> Column:
    total = F.aggregate(
        F.transform(toks, lambda x: F.length(x)), F.lit(0), lambda a, x: a + x
    )
    return total.cast("double") / F.size(toks)


def quality_ok_expr(toks: Column) -> Column:
    """Boolean-ish (0/1 int) quality gate: enough tokens + vocabulary."""
    return F.when(
        (F.size(toks) >= 5) & (distinct_ratio_expr(toks) > 0.3),
        F.lit(1),
    ).otherwise(F.lit(0))
