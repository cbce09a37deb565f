"""X18 — heuristic language identification as native Column expressions.

The reference has no explicit lang-id (it targets German implicitly:
", Germany" geocode suffix 07_geocode_news.py:165, German-charset regexes
07:137 / 08:118); the input_hint mandates a ``lang`` column, so this fills it.

Pure stopword-ratio heuristic over whitespace tokens — fully SQL-expressible
(array lambdas, JVM-side) and therefore DuckDB-oracle checkable.  A model-based
identifier would slot in as an iterator pandas UDF with the same signature.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# small, fixed stopword inventories — part of the function's contract
DE_STOPWORDS = [
    "der", "die", "das", "und", "ist", "nicht", "von", "mit", "auf", "für",
    "den", "sich", "ein", "eine", "hat", "sind", "werden", "auch", "noch", "bei",
]
EN_STOPWORDS = [
    "the", "and", "is", "not", "of", "with", "on", "for", "to", "in",
    "a", "are", "was", "be", "by", "this", "that", "it", "as", "at",
]


def _clean_tokens(text: Column) -> Column:
    """Lower-cased whitespace tokens stripped to letters.  Tokens that strip
    to '' stay in: they match no stopword."""
    toks = F.split(F.lower(text), r"\s+")
    return F.transform(toks, lambda t: F.regexp_replace(t, r"[^a-zäöüß]", ""))


def lang_id(text: Column) -> Column:
    """'de' / 'en' / 'und' (undetermined) by stopword-hit majority.

    The tokens are built once and folded into one signed count, German hits
    minus English hits; the label is read off its sign with a single
    reference.  Comparing two separate counts would put the token pipeline
    into the plan once per count and per comparison (higher-order functions
    are not subexpression-eliminated).  NULL text folds to NULL, which
    ``coalesce`` maps to 'und'."""
    de = F.array(*[F.lit(w) for w in DE_STOPWORDS])
    en = F.array(*[F.lit(w) for w in EN_STOPWORDS])
    diff = F.aggregate(
        _clean_tokens(text),
        F.lit(0),
        lambda acc, t: acc
        + F.array_contains(de, t).cast("int")
        - F.array_contains(en, t).cast("int"),
    )
    sign = F.coalesce(F.signum(diff).cast("int"), F.lit(0))
    return F.element_at(F.array(F.lit("en"), F.lit("und"), F.lit("de")), sign + 2)
