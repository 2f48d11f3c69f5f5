"""Intra-document alias resolution (coreference-lite) for entity
canonicalization.

MinHash-LSH linking (operators/linking.py) merges surface forms that
LOOK alike; it cannot merge "United Nations" with "UN", or "Barack
Obama" with a bare "Obama" — the two highest-yield alias classes in web
text, both recoverable DETERMINISTICALLY from document structure:

* **Acronym definitions** — the parenthetical definition idiom
  ``Long Name (ACRO)``; verified by initial-letter match so "World
  Health Organization (WHO)" links and "New York (USA)" does not.
* **Suffix aliases** — a later single-token mention equal to the last
  token of an earlier longer same-type mention IN THE SAME DOCUMENT
  (the classic newswire last-name convention).  Document-scoped on
  purpose: a global "Obama" -> "Barack Obama" merge would be wrong the
  moment two Obamas exist; per-document evidence rows are aggregated
  and promoted only by count.

The reference engine (ClinicalTransformerNER) has no counterpart —
beyond-reference KG tooling per the task brief, same stance as
rules.

Scale shape:

* ``acronym_definitions`` is a NARROW scan: regexp_extract_all over the
  text column, one explode, per-element JVM regexes, initials check as
  pure column algebra (transform + array_join) — RE2-safe pattern so a
  DuckDB twin runs the same grammar.
* ``suffix_alias_pairs`` is one equi-join on (url, type, last-token):
  per-document candidate sets, never a global surface self-join; both
  sides are projections of the SAME distinct-surfaces pass.
* ``alias_edges`` aggregates per-document evidence into
  vocabulary-scale (alias_norm, full_norm, n_docs) edges keyed exactly
  like linking.entity_vocab (xxhash64(norm)), so they union into the
  same connected-components canonicalization the LSH edges feed —
  aliases and fuzzy matches merge in ONE CC pass, no second keying
  scheme.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint
from .linking import normalize_text

# RE2-safe (no backrefs/lookaround): capitalized multi-word name followed
# by a parenthesized all-caps token.  Java and RE2 agree on this subset.
ACRONYM_PATTERN = r"([A-Z][A-Za-z]*(?: [A-Z][A-Za-z]*)+) \(([A-Z]{2,10})\)"


def acronym_definitions(
    pages: DataFrame, url_col: str = "url", text_col: str = "text"
) -> DataFrame:
    """(url, long_form, acronym) for verified parenthetical definitions.

    Verified = the acronym equals the initials of the long form
    (computed in column algebra — no Python).  One narrow scan.
    """
    hits = pages.select(
        F.col(url_col).alias("url"),
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(ACRONYM_PATTERN), 0)
        ).alias("m"),
    )
    # the leftmost-greedy candidate can start early ("The World Health
    # Organization (WHO)"), so verify against — and trim the long form
    # to — the LAST len(acronym) words, the standard acronym-miner move
    acro = F.regexp_extract("m", ACRONYM_PATTERN, 2)
    words = F.split(F.regexp_extract("m", ACRONYM_PATTERN, 1), " ")
    k = F.length(acro)
    tail = F.slice(words, F.size(words) - k + 1, k)
    initials = F.array_join(
        F.transform(tail, lambda w: F.substring(w, 1, 1)), ""
    )
    return (
        hits.filter(F.size(words) >= k)
        .select(
            "url",
            F.array_join(tail, " ").alias("long_form"),
            acro.alias("acronym"),
            initials.alias("_init"),
        )
        .filter(F.col("_init") == F.col("acronym"))
        .drop("_init")
    )


def suffix_alias_pairs(
    mentions: DataFrame, min_alias_len: int = 4, match_type: bool = True
) -> DataFrame:
    """Per-document suffix aliases: (url, type, alias_norm, full_norm).

    A single-token mention (>= ``min_alias_len`` chars — 'Ann' is too
    ambiguous) that equals the LAST token of a multi-token same-type
    mention in the same document.  Distinct per (url, type, alias,
    full): multiplicity within one document is not extra evidence.

    ``match_type=False`` drops the same-type requirement — correct for
    taggers whose type is not a real semantic class (the deterministic
    rule tagger types by first letter, so "Barack Obama" and "Obama"
    never share a type); keep it True for model taggers.
    """
    keys = ["url", "type", "alias_norm"] if match_type else ["url", "alias_norm"]
    # the singles/multis fork consumes this table twice; when mentions is
    # an unmaterialized UDF plan each side would re-run the tagger (the
    # CLAUDE.md multi-consumer trap) — materialize the distinct-surfaces
    # projection once
    surfaces = checkpoint(
        mentions.select(
            "url", "type", normalize_text(F.col("text")).alias("norm")
        ).distinct()
    )
    toks = F.split(F.col("norm"), " ")
    singles = surfaces.filter(
        (F.size(toks) == 1) & (F.length("norm") >= min_alias_len)
    ).select("url", "type", F.col("norm").alias("alias_norm"))
    if not match_type:
        singles = singles.drop("type").distinct()
    multis = surfaces.filter(F.size(toks) >= 2).select(
        "url",
        "type",
        F.col("norm").alias("full_norm"),
        F.element_at(toks, -1).alias("alias_norm"),
    )
    return (
        multis.join(singles, keys)
        .select("url", "type", "alias_norm", "full_norm")
        .distinct()
    )


def alias_edges(
    mentions: DataFrame,
    pages: DataFrame | None = None,
    min_docs: int = 1,
    min_alias_len: int = 4,
    match_type: bool = True,
) -> DataFrame:
    """Vocabulary-scale alias equivalence edges (a, b, n_docs) keyed by
    xxhash64(norm) — the linking.entity_vocab key space — ready to union
    into the canonicalization CC.  Suffix evidence always; acronym
    evidence too when ``pages`` (with raw text) is supplied.  ``min_docs``
    gates promotion on independent document support."""
    suffix = suffix_alias_pairs(mentions, min_alias_len, match_type).select(
        "url", F.col("alias_norm").alias("na"), F.col("full_norm").alias("nb")
    )
    ev = suffix
    if pages is not None:
        acr = acronym_definitions(pages).select(
            "url",
            normalize_text(F.col("acronym")).alias("na"),
            normalize_text(F.col("long_form")).alias("nb"),
        )
        ev = ev.unionByName(acr)
    counted = (
        ev.distinct()  # one vote per (url, pair)
        .groupBy("na", "nb")
        .agg(F.count("*").alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
    )
    return counted.select(
        F.xxhash64("na").alias("a"),
        F.xxhash64("nb").alias("b"),
        "n_docs",
    )


def canonicalize_with_aliases(
    mentions: DataFrame,
    pages: DataFrame | None = None,
    threshold: float = 0.6,
    min_docs: int = 1,
    match_type: bool = True,
) -> DataFrame:
    """linking.canonicalize with alias edges unioned into the SAME
    connected-components pass: fuzzy (MinHash-verified) and structural
    (acronym/suffix) equivalence merge transitively in one sweep.
    Returns the same (norm, entity_key, canonical_id) contract."""
    from . import linking

    signed = checkpoint(
        linking.minhash_signatures(linking.entity_vocab(mentions))
    )
    fuzzy = linking.verified_pairs(signed, threshold).select("a", "b")
    structural = alias_edges(
        mentions, pages, min_docs=min_docs, match_type=match_type
    ).select("a", "b")
    comps = linking.connected_components(fuzzy.unionByName(structural))
    return (
        signed.select("norm", "entity_key")
        .join(comps, signed.entity_key == comps.node, "left")
        .select(
            "norm",
            "entity_key",
            F.coalesce(F.col("component"), F.col("entity_key")).alias("canonical_id"),
        )
    )


def sense_split(mentions: DataFrame) -> DataFrame:
    """Split ambiguous surface forms into senses (the inverse problem of
    aliasing): the one-sense-per-shared-collocate baseline — two
    documents use the SAME sense of surface ``s`` iff they are connected
    through co-occurring surfaces (doc A and doc B share a collocate of
    ``s``, or reach each other transitively through docs that do).
    "paris" next to "france" and "paris" next to "hilton" stay separate
    entities; every doc-context of an unambiguous surface folds into one
    sense.  Returns (norm, url, sense_id) — downstream, (norm, sense_id)
    replaces bare ``norm`` as the linking vocabulary key when sense-aware
    canonicalization is wanted.

    Scale shape: context pairs are the per-document surface self-join the
    triple stage already pays (bounded by mentions-per-doc, never global);
    the sense equivalence is ONE connected-components pass over a
    bipartite graph of xxhash64-keyed (surface, doc) and (surface,
    collocate) nodes — doc nodes of one surface can only connect through
    that surface's own collocate nodes, so components never cross
    surfaces.  Isolated docs (no collocates at all) keep their own node
    id as the sense.
    """
    from .linking import connected_components

    # three consumers (both self-join sides + the keyed output join) —
    # materialize once so a UDF-derived mentions plan never re-runs
    surf = checkpoint(
        mentions.select("url", normalize_text(F.col("text")).alias("norm"))
        .filter(F.length("norm") > 0)
        .distinct()
    )
    s, c = surf.alias("s"), surf.alias("c")
    pairs = (
        s.join(c, F.col("s.url") == F.col("c.url"))
        .filter(F.col("s.norm") != F.col("c.norm"))
        .select(
            F.col("s.norm").alias("norm"),
            F.col("s.url").alias("url"),
            F.col("c.norm").alias("ctx"),
        )
        .distinct()
    )
    doc_node = F.xxhash64(F.concat_ws("\x01", F.lit("d"), "norm", "url"))
    ctx_node = F.xxhash64(F.concat_ws("\x01", F.lit("c"), "norm", "ctx"))
    comps = connected_components(
        pairs.select(doc_node.alias("a"), ctx_node.alias("b"))
    )
    keyed = surf.withColumn(
        "_dn", F.xxhash64(F.concat_ws("\x01", F.lit("d"), "norm", "url"))
    )
    return (
        keyed.join(comps, keyed["_dn"] == comps["node"], "left")
        .select(
            "norm",
            "url",
            F.coalesce(F.col("component"), F.col("_dn")).alias("sense_id"),
        )
    )
