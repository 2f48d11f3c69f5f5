"""Scalar column helpers (SURVEY.md §2.8) shared across operators."""

from pyspark.sql import Column
from pyspark.sql import functions as F


def label_type(label: Column) -> Column:
    """Entity type of a BIO label: 'B-per' -> 'per'; 'O' -> 'O'.

    Reference: ``label.split('-')[-1]`` (bio_prf_eval.py:210-211).
    """
    return F.substring_index(label, "-", -1)


# Java-regex character class matching oracle.EDGE_PUNCT — ASCII only, so
# Python str.strip, Java regex and RE2 (DuckDB) agree char for char.
EDGE_PUNCT_CLASS = "[.,;:!?\"'()\\[\\]{}<>]"


def core_token(token: Column) -> Column:
    """EDGE_PUNCT-stripped token core (oracle.strip_edge_punct twin).

    Empty when the token is pure punctuation — callers that need a
    surface form fall back to the raw token in that case.
    """
    return F.regexp_replace(
        F.regexp_replace(token, f"^{EDGE_PUNCT_CLASS}+", ""),
        f"{EDGE_PUNCT_CLASS}+$",
        "",
    )


def core_surface(token: Column, start: Column, end: Column) -> tuple[Column, Column, Column]:
    """(token, start, end) -> the EDGE_PUNCT-stripped mention surface
    with adjusted char offsets (oracle.core_token_offsets twin).
    Pure-punctuation tokens pass through unchanged."""
    core = core_token(token)
    lead = F.length(token) - F.length(
        F.regexp_replace(token, f"^{EDGE_PUNCT_CLASS}+", "")
    )
    s = F.when(core == "", start).otherwise(start + lead)
    return (
        F.when(core == "", token).otherwise(core),
        s,
        F.when(core == "", end).otherwise(s + F.length(core)),
    )


def rule_type(token: Column) -> Column:
    """Deterministic mock-tagger type for a token (oracle.rule_tag_token).

    Entity iff the EDGE_PUNCT-stripped core is capitalized-alphabetic OR
    in the fixed lexicon (so "Geneva." is an entity); lowercased
    first-letter buckets: a-f per, g-m loc, n-s org, t-z misc.  Kept
    SQL-expressible so the DuckDB oracle can reproduce it exactly.
    """
    from ..oracle import RULE_LEXICON

    core = core_token(token)
    first = F.lower(F.substring(core, 1, 1))
    return F.when(
        core.rlike("^[A-Z][a-zA-Z]*$") | core.isin(*sorted(RULE_LEXICON)),
        F.when(first <= "f", "per")
        .when(first <= "m", "loc")
        .when(first <= "s", "org")
        .otherwise("misc"),
    )
