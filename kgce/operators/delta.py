"""Recrawl deltas and incremental KG view maintenance.

A 10^12-page crawl is never re-processed from scratch: each recrawl
touches a small fraction of urls (added / content-changed / removed),
and the KG must follow WITHOUT re-extracting the untouched 99%.  The
streaming path (streaming.stream_triples_merge) covers append-only
increments; this module covers the general case — UPDATES and DELETES —
which an additive merge cannot (``max(confidence)`` and ``count`` are
not decrement-safe, so "subtract the old page's contribution" is
impossible on aggregates alone).

The maintained state is the per-url CONTRIBUTION table (the scored
triples before aggregation — exactly what ``triples.score_pairs`` /
``extract_triples_hybrid`` emit).  Maintenance is then exact:

1. ``snapshot_delta`` classifies urls by content digest (one full-outer
   join on url — the only corpus-wide shuffle, and it moves 16-byte
   digests, not pages).
2. Only added/changed pages are re-extracted (``select_recrawl``) — the
   expensive tagger UDF runs on the DELTA, never the corpus.
3. ``incremental_update`` rebuilds ONLY the affected triple keys: keys
   that lost a contribution (from changed/removed urls) or gained one.
   Untouched keys keep their previous aggregate row untouched.

Scale shape: the affected-key set is O(delta × pairs-per-page) — tiny
against the key space — so the semi/anti joins that split the previous
aggregate are AQE-broadcastable on the affected side (UNHINTED on
purpose: a full recrawl degrades gracefully to shuffle joins and the
result is still exact).  The contribution store swap is url-keyed:
with a url-bucketed table only touched buckets rewrite (parquet
dynamic-partition analog); here it is expressed as anti-join ∪ new.

The reference engine has no incremental path at all (batch scripts per
run_ner.py) — beyond-reference, same stance as streaming/domains.
Verified by tests/test_delta.py: maintained output == full recompute
on the new snapshot, across add/change/remove mixes.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

TRIPLE_KEYS = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]


def snapshot_delta(
    old_pages: DataFrame,
    new_pages: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
) -> DataFrame:
    """(url, change) for two crawl snapshots; ``change`` is one of
    ``added | removed | changed | unchanged``, judged by the md5 digest
    of the extracted text (md5, not xxhash64, so the classification has
    a DuckDB twin — CLAUDE.md cross-engine-hash rule)."""
    o = old_pages.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("_od")
    )
    n = new_pages.select(
        F.col(url_col).alias("url"), F.md5(F.col(text_col)).alias("_nd")
    )
    j = o.join(n, "url", "full_outer")
    return j.select(
        "url",
        F.when(F.col("_od").isNull(), F.lit("added"))
        .when(F.col("_nd").isNull(), F.lit("removed"))
        .when(F.col("_od") != F.col("_nd"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
        .alias("change"),
    )


def select_recrawl(new_pages: DataFrame, delta: DataFrame, url_col: str = "url") -> DataFrame:
    """The pages the tagger must actually run on: added + changed."""
    touched = delta.filter(F.col("change").isin("added", "changed")).select("url")
    return new_pages.join(
        touched.withColumnRenamed("url", url_col) if url_col != "url" else touched,
        url_col,
        "left_semi",
    )


def dropped_urls(delta: DataFrame) -> DataFrame:
    """Urls whose OLD contributions must leave the store: changed +
    removed."""
    return delta.filter(F.col("change").isin("changed", "removed")).select("url")


def incremental_update(
    prev_agg: DataFrame,
    prev_contribs: DataFrame,
    new_contribs: DataFrame,
    drop_urls: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Exact incremental maintenance of ``aggregate_triples`` output.

    Returns ``(agg, contribs)`` for the new snapshot:

    * ``contribs`` = prev minus contributions of ``drop_urls``, plus
      ``new_contribs`` (the re-extracted added/changed pages);
    * ``agg`` = prev rows for UNAFFECTED keys (left_anti, no
      recomputation) ∪ re-aggregated AFFECTED keys (left_semi over the
      updated contribution store).

    Affected = keys appearing in any dropped or new contribution.  Both
    key joins are unhinted: AQE broadcasts the affected set when the
    delta is small, falls back to shuffle on a full recrawl.
    Exactness (== full recompute) is pinned by tests/test_delta.py for
    every change mix including key-collision cases (a key losing one
    of several contributing urls keeps its other evidence).
    """
    old_touched = prev_contribs.join(drop_urls, "url", "left_semi")
    kept_contribs = prev_contribs.join(drop_urls, "url", "left_anti")
    contribs = kept_contribs.unionByName(new_contribs)

    from ..plans.stage import checkpoint

    # the affected-key set is consumed by BOTH the keep anti-join and
    # the redo semi-join; unmaterialized, each consumer re-runs the
    # old_touched semi-join over the whole contribution store (and the
    # delta extraction when new_contribs is lazy).  O(delta keys) —
    # delta-proportional, never corpus-proportional.
    affected = checkpoint(
        old_touched.select(*TRIPLE_KEYS)
        .unionByName(new_contribs.select(*TRIPLE_KEYS))
        .distinct()
    )
    from .triples import aggregate_triples

    keep = prev_agg.join(affected, TRIPLE_KEYS, "left_anti")
    redo = aggregate_triples(contribs.join(affected, TRIPLE_KEYS, "left_semi"))
    return keep.unionByName(redo), contribs


def scored_contributions(pages: DataFrame, tagger: str = "rule") -> DataFrame:
    """pages -> per-url scored triples (the maintained contribution
    store): the flagship hybrid path MINUS the final aggregation —
    Python tags once, JVM generates pairs, url rides along."""
    from .. import tagging
    from .triples import pairs_from_sentence_mentions, score_pairs

    return score_pairs(
        pairs_from_sentence_mentions(tagging.extract_sentence_mentions(pages, tagger))
    )


def maintain_snapshot(
    prev_agg: DataFrame,
    prev_contribs: DataFrame,
    old_pages: DataFrame,
    new_pages: DataFrame,
    extract_fn=None,
) -> tuple[DataFrame, DataFrame]:
    """One-call recrawl maintenance: delta -> re-extract the delta ->
    incremental_update.  ``extract_fn(pages) -> scored contributions``
    defaults to ``scored_contributions`` (the flagship hybrid
    extraction, pre-aggregation)."""
    if extract_fn is None:
        extract_fn = scored_contributions
    from ..plans.stage import checkpoint

    # delta is consumed by select_recrawl AND dropped_urls (whose output
    # feeds two more joins) — unmaterialized, the full-outer digest join
    # over both snapshots re-executes per consumer.  O(urls) rows of
    # (url, change).
    delta = checkpoint(snapshot_delta(old_pages, new_pages))
    # the re-extraction UDF output is consumed by the contribution-store
    # union AND the affected-key build; materialize so the tagger runs
    # on the delta exactly once.  O(delta pages x pairs-per-page).
    new_contribs = checkpoint(extract_fn(select_recrawl(new_pages, delta)))
    return incremental_update(
        prev_agg, prev_contribs, new_contribs, dropped_urls(delta)
    )
