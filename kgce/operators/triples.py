"""Triple extraction: sentence mention pairs -> scored (subj, pred, obj).

J9 (SURVEY.md §2.3): sentence-scoped self-join
``m1 ⋈ m2 ON url, sent_id AND m1.mention_id < m2.mention_id`` — the theta
half of the condition rides on the page-wide mention numbering, which is
ordered by (start, end), so subj is always the left-most mention of the
pair (the reference's brat numbering order, output_format_converter.py:212).
That join (:func:`candidate_pairs`) is the test reference.  Every
production path generates pairs with ONE core,
:func:`pairs_from_sentence_mentions`, over per-sentence mention arrays:
the pipeline groups its mentions table per sentence
(:func:`candidate_pairs_grouped`); the hybrid, delta and streaming paths
take the arrays straight from ``tagging.extract_sentence_mentions``.

Scale notes:
* the grouping keys (url, sent_id) make the grouped form ONE shuffle
  (the hybrid form needs none before the triple aggregation).
* pages from hot domains can be pre-spread with
  ``kgce.plans.skew.salted_repartition`` before mention extraction so no
  single task owns a whole domain.
* predicate + confidence are pure column expressions (JVM codegen,
  SQL-expressible for the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def candidate_pairs(mentions: DataFrame) -> DataFrame:
    """Sentence-co-occurring mention pairs (subj = left-most): the J9
    self-join, kept as the reference the pipeline's
    :func:`candidate_pairs_grouped` is tested against."""
    m1 = mentions.select(
        "url",
        "sent_id",
        F.col("mention_id").alias("subj_mid"),
        F.col("text").alias("subj_text"),
        F.col("type").alias("subj_type"),
        F.col("start").alias("subj_start"),
        F.col("end").alias("subj_end"),
    )
    m2 = mentions.select(
        "url",
        "sent_id",
        F.col("mention_id").alias("obj_mid"),
        F.col("text").alias("obj_text"),
        F.col("type").alias("obj_type"),
        F.col("start").alias("obj_start"),
        F.col("end").alias("obj_end"),
    )
    return m1.join(m2, on=["url", "sent_id"]).filter(F.col("subj_mid") < F.col("obj_mid"))


def pairs_from_sentence_mentions(sent_mentions: DataFrame) -> DataFrame:
    """The O(k²) pair generator, from per-sentence mention arrays ``ms``
    ordered by (start, end): double posexplode + index filter —
    whole-stage-codegen'd Generate, no shuffle, no Python.  Output schema
    == candidate_pairs minus the mention ids (the array order IS the id
    order)."""
    e1 = sent_mentions.select(
        "url", "sent_id", "ms", F.posexplode("ms").alias("i", "a")
    )
    e2 = e1.select(
        "url", "sent_id", "i", "a", F.posexplode("ms").alias("j", "b")
    ).filter(F.col("j") > F.col("i"))
    return e2.select(
        "url",
        "sent_id",
        F.col("a.text").alias("subj_text"),
        F.col("a.type").alias("subj_type"),
        F.col("a.start").alias("subj_start"),
        F.col("a.end").alias("subj_end"),
        F.col("b.text").alias("obj_text"),
        F.col("b.type").alias("obj_type"),
        F.col("b.start").alias("obj_start"),
        F.col("b.end").alias("obj_end"),
    )


def candidate_pairs_grouped(mentions: DataFrame) -> DataFrame:
    """Same pairs as candidate_pairs (minus the mention ids), via one
    per-sentence groupBy and :func:`pairs_from_sentence_mentions` instead
    of a self-join.

    Why: the mentions DataFrame is produced by an expensive Python UDF; a
    self-join evaluates that UDF subtree TWICE (the pre-join projections
    defeat exchange reuse).  Grouping per sentence shuffles the UDF
    output once, and the mention arrays stay factorized until the core
    expands them JVM-side.  Hot sentences still skew a task, but the work
    per sentence is identical to the join's — minus a full second UDF
    pass.
    """
    # sorting the structs by their leading mention_id restores (start, end)
    ms = F.array_sort(
        F.collect_list(F.struct("mention_id", "text", "type", "start", "end"))
    )
    return pairs_from_sentence_mentions(
        mentions.groupBy("url", "sent_id").agg(ms.alias("ms"))
    )


def score_pairs(pairs: DataFrame) -> DataFrame:
    """Attach predicate label + deterministic confidence.

    predicate = ``rel:<subj_type>_<obj_type>`` (type-pair heuristic,
    SURVEY.md §7.6); confidence decays with character gap between the
    mentions — exact arithmetic so the DuckDB oracle reproduces it.
    """
    gap = (F.col("obj_start") - F.col("subj_end")).cast("double")
    return pairs.select(
        "url",
        "sent_id",
        "subj_text",
        "subj_type",
        F.concat(F.lit("rel:"), F.col("subj_type"), F.lit("_"), F.col("obj_type")).alias("pred"),
        "obj_text",
        "obj_type",
        (F.lit(1.0) / (F.lit(1.0) + F.greatest(gap, F.lit(0.0)) / F.lit(100.0))).alias("confidence"),
    )


def aggregate_triples(scored: DataFrame) -> DataFrame:
    """A11: dedup/score — one row per (subj_text, pred, obj_text).

    Partial (map-side) aggregation applies automatically; evidence kept as
    a count + max confidence rather than a collect_set of URLs so the
    state per key is O(1) at 10^12-page scale (exact URL evidence lists
    are a sink-side join when needed).
    """
    # types ride along as GROUPING keys (string keys are HashAggregate-safe;
    # only string agg BUFFERS like first/min force SortAggregate).  pred is
    # a pure function of (subj_type, obj_type), so the extra keys do not
    # change grouping granularity — and unlike parsing them back out of
    # pred, this stays correct for entity types containing '_'
    # (e.g. clinical types like 'gene_product' from a model tagger).
    return scored.groupBy("subj_text", "pred", "obj_text", "subj_type", "obj_type").agg(
        F.count("*").alias("n_evidence"),
        F.max("confidence").alias("confidence"),
    )


def evidence_urls(scored: DataFrame, k: int = 3) -> DataFrame:
    """Provenance: the top-``k`` evidence URLs per triple key — the
    sink-side join ``aggregate_triples``'s docstring defers to (exact
    URL lists as O(1)-per-key aggregation state would not survive
    10^12 pages; a BOUNDED top-k per key does).

    URLs are DISTINCT per key (a url citing the triple in several
    sentences appears once, at its max confidence — the per-(key, url)
    max is a partial-aggregated groupBy BEFORE the window, so the
    window input is already collapsed).  One window shuffle on the
    triple key; rank by (confidence desc, url) so the kept evidence is
    the strongest and the choice is deterministic.  Join the result
    onto aggregate_triples output by the same five key columns when
    materializing edges with provenance.
    """
    from pyspark.sql import Window

    keys = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]
    per_url = scored.groupBy(*keys, "url").agg(
        F.max("confidence").alias("confidence")
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("confidence"), "url")
    return (
        per_url.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .groupBy(*keys)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("confidence")).alias("nc"),
                        F.col("url").alias("url"),
                    )
                )
            ).alias("_ev")
        )
        .select(
            *keys,
            F.transform(F.col("_ev"), lambda s: s["url"]).alias("evidence_urls"),
        )
    )


def aggregate_triples_with_evidence(scored: DataFrame, k: int = 3) -> DataFrame:
    """aggregate_triples + bounded top-``k`` ``evidence`` structs
    (url, confidence) in ONE pass.  The per-url confidence makes the
    bounded top-k MERGEABLE across increments (materialize.
    merge_aggregated_triples's provenance path) — a plain url list
    cannot re-rank on merge.

    Plan shape: one partial-aggregated shuffle on (key, url) collapses
    per-url duplicates, then the top-k window and the final key rollup
    share the SAME key partitioning (no third exchange).  Aggregation
    state per key stays O(k) — crawl-scale-safe where a collect_set of
    URLs is not.
    """
    from pyspark.sql import Window

    keys = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]
    per_url = scored.groupBy(*keys, "url").agg(
        F.count("*").alias("_n"), F.max("confidence").alias("_c")
    )
    w = Window.partitionBy(*keys).orderBy(F.desc("_c"), "url")
    ranked = per_url.withColumn("_rk", F.row_number().over(w))
    return ranked.groupBy(*keys).agg(
        F.sum("_n").alias("n_evidence"),
        F.max("_c").alias("confidence"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_rk") <= k,
                        F.struct(
                            F.col("_rk").alias("rk"),
                            F.col("url").alias("url"),
                            F.col("_c").alias("confidence"),
                        ),
                    )
                )
            ),
            lambda s: F.struct(s["url"].alias("url"), s["confidence"].alias("confidence")),
        ).alias("evidence"),
    )


def aggregate_triples_with_provenance(scored: DataFrame, k: int = 3) -> DataFrame:
    """aggregate_triples + bounded top-``k`` ``evidence_urls`` in ONE
    pass — provably equal to ``aggregate_triples(scored)`` left-joined
    with ``evidence_urls(scored, k)`` (property-tested), without the DAG
    fork that would re-run pair generation once per consumer.  Same
    plan as :func:`aggregate_triples_with_evidence` (which see for the
    shape analysis); this form carries urls only — the pipeline/edges
    column — while the struct form feeds the streaming merge.
    """
    ev = aggregate_triples_with_evidence(scored, k)
    return ev.withColumn(
        "evidence_urls", F.transform("evidence", lambda s: s["url"])
    ).drop("evidence")


def extract_triples_hybrid(pages: DataFrame, tagger: str = "rule") -> DataFrame:
    """pages -> triples: Python tags, JVM pairs, partial-agg shuffle only."""
    from .. import tagging

    return aggregate_triples(
        score_pairs(pairs_from_sentence_mentions(tagging.extract_sentence_mentions(pages, tagger)))
    )
