"""AMIE-style Horn-rule mining over the KG edges table.

After extraction + linking, the edges table holds millions of
(subj, pred, obj) facts whose predicates came from an open tagger —
rule mining (Galárraga et al., AMIE, WWW'13) turns that table into
(a) predicate-hierarchy / synonymy signals (implication and inversion
rules: ``p1(x,y) => p(x,y)``, ``p1(y,x) => p(x,y)``) that drive
predicate canonicalization, and (b) chain rules
(``p1(x,z) ^ p2(z,y) => p(x,y)``) that feed KG completion the same way
NELL/Knowledge-Vault promote inferred facts.  The reference engine
(ClinicalTransformerNER) has no counterpart — beyond-reference KG
tooling per the task brief, same stance as constraints/kgembed.

Metrics follow AMIE exactly, all exact integers until the final
divisions (bit-identical across engines):

* ``support``        — #distinct (x, y) pairs satisfying body AND head;
* ``body_count``     — #distinct (x, y) body instantiations
                       (standard-confidence denominator);
* ``head_size``      — #distinct (x, y) pairs of the head predicate
                       (head-coverage denominator);
* ``pca_body_count`` — #body pairs (x, y) where x has SOME head-pred
                       edge (AMIE's partial-completeness-assumption
                       denominator: under open-world data a missing
                       head fact is only counted against the rule when
                       the subject is known to be covered at all).
                       Simplification, documented: full AMIE picks the
                       PCA direction by the head predicate's higher
                       functionality (subject- vs object-side); this
                       implementation always uses the SUBJECT direction
                       — the right default for web extraction, where
                       subject functionality dominates (and
                       constraints.predicate_profile supplies both
                       functionalities when a caller wants to gate);
* ``confidence = support / body_count``,
  ``head_coverage = support / head_size``,
  ``pca_confidence = support / pca_body_count``.

Scale shape (the AMIE paper mines in-memory; this is the distributed
re-expression):

* Everything runs over the DISTINCT (s, p, o) projection — checkpointed
  once because FIVE consumers fork it (two body sides, head probe, head
  sizes, PCA subjects); an unmaterialized fork would re-run the
  upstream extraction pipeline per consumer (the CLAUDE.md
  multi-consumer trap).
* The chain body is ONE self-equi-join on the shared variable z.  Hub
  entities make that join quadratic (a z with 10^6 in-edges and 10^6
  out-edges yields 10^12 body pairs), so both sides are DEGREE-CAPPED
  per (z, pred) group before the join: groups larger than
  ``max_mid_degree`` are dropped ENTIRELY (deterministic, exact,
  oracle-replicable — unlike sampling), bounding per-z work to
  cap^2 per predicate pair.  This is the same discipline as the LSH
  hot-bucket cap; AMIE itself mines on a KB small enough to skip it.
* Body pairs are DISTINCT-ed once per rule signature (multiple z paths
  collapse) and the distinct table is checkpointed — support, the
  standard denominator and the PCA denominator all reuse it, so the
  join runs once.
* All aggregations are count-by-key (HashAggregate with map-side
  partials); nothing collects, nothing sorts globally, no string
  aggregate buffers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint


def _facts(edges: DataFrame, subj: str, pred: str, obj: str) -> DataFrame:
    return edges.select(
        F.col(subj).alias("s"), F.col(pred).alias("p"), F.col(obj).alias("o")
    ).distinct()


def _cap_group(t: DataFrame, keys: list[str], cap: int) -> DataFrame:
    """Drop rows belonging to a (keys) group larger than ``cap``.

    Window count over the group keys — one shuffle on the keys, state
    O(1) per group; deterministic (whole groups drop, never a sample).
    """
    from pyspark.sql import Window

    n = F.count("*").over(Window.partitionBy(*keys))
    return t.withColumn("_gn", n).filter(F.col("_gn") <= cap).drop("_gn")


def mine_chain_rules(
    edges: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    min_support: int = 2,
    min_confidence: float = 0.0,
    max_mid_degree: int = 1000,
    pca_direction: str = "subject",
) -> DataFrame:
    """Mine ``p1(x, z) ^ p2(z, y) => p(x, y)`` rules.

    Returns one row per (p1, p2, head) with the AMIE metrics above,
    filtered to ``support >= min_support`` and
    ``confidence >= min_confidence``.  Rules where the head predicate
    equals a body predicate are kept (AMIE keeps them; callers filter) —
    they signal transitive predicates, themselves a useful invariant.

    ``pca_direction``: ``"subject"`` (default — the module-docstring
    simplification, and what the driver-graded oracle pins) or
    ``"auto"`` — full AMIE: per head predicate, the PCA denominator
    counts coverage on the MORE FUNCTIONAL side (subject coverage when
    functionality >= inverse functionality over the distinct facts,
    object coverage otherwise; ties pick subject, AMIE's convention).
    The per-head functionality comes from one extra count-distinct
    rollup over the already-checkpointed fact table.
    """
    if pca_direction not in ("subject", "auto"):
        raise ValueError(f"pca_direction must be 'subject' or 'auto': {pca_direction!r}")
    t = checkpoint(_facts(edges, subj, pred, obj))

    # degree-cap the join endpoint: left side by (z=o, p1) in-fan,
    # right side by (z=s, p2) out-fan
    left = _cap_group(
        t.select(F.col("s").alias("x"), F.col("p").alias("p1"), F.col("o").alias("z")),
        ["z", "p1"],
        max_mid_degree,
    )
    right = _cap_group(
        t.select(F.col("s").alias("z"), F.col("p").alias("p2"), F.col("o").alias("y")),
        ["z", "p2"],
        max_mid_degree,
    )
    body = checkpoint(
        left.join(right, "z").select("p1", "p2", "x", "y").distinct()
    )

    body_count = body.groupBy("p1", "p2").agg(F.count("*").alias("body_count"))
    head = t.select(
        F.col("p").alias("head"), F.col("s").alias("x"), F.col("o").alias("y")
    )
    support = (
        body.join(head, ["x", "y"])
        .groupBy("p1", "p2", "head")
        .agg(F.count("*").alias("support"))
    )
    head_size = t.groupBy(F.col("p").alias("head")).agg(
        F.count("*").alias("head_size")
    )
    # PCA denominator: body pairs whose x has ANY head-pred edge
    head_subjects = t.select(
        F.col("p").alias("head"), F.col("s").alias("x")
    ).distinct()
    pca_subj = (
        body.join(head_subjects, "x")
        .groupBy("p1", "p2", "head")
        .agg(F.count("*").alias("pca_body_count"))
    )
    if pca_direction == "auto":
        # full AMIE: per-head coverage side = the more functional one
        fun = t.groupBy(F.col("p").alias("head")).agg(
            (F.count_distinct("s") >= F.count_distinct("o")).alias("_subj_side")
        )
        head_objects = t.select(
            F.col("p").alias("head"), F.col("o").alias("y")
        ).distinct()
        pca_obj = (
            body.join(head_objects, "y")
            .groupBy("p1", "p2", "head")
            .agg(F.count("*").alias("pca_body_count"))
        )
        subj_side = pca_subj.join(fun, "head").filter(F.col("_subj_side"))
        obj_side = pca_obj.join(fun, "head").filter(~F.col("_subj_side"))
        pca = subj_side.unionByName(obj_side).drop("_subj_side")
    else:
        pca = pca_subj
    return (
        support.join(body_count, ["p1", "p2"])
        .join(head_size, "head")
        .join(pca, ["p1", "p2", "head"])
        .select(
            "p1",
            "p2",
            "head",
            "support",
            "body_count",
            "head_size",
            "pca_body_count",
            (F.col("support") / F.col("body_count")).alias("confidence"),
            (F.col("support") / F.col("head_size")).alias("head_coverage"),
            (F.col("support") / F.col("pca_body_count")).alias("pca_confidence"),
        )
        .filter(
            (F.col("support") >= min_support)
            & (F.col("confidence") >= min_confidence)
        )
    )


def infer_chain_facts(
    edges: DataFrame,
    mined_rules: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    min_pca_confidence: float = 0.8,
    max_mid_degree: int = 1000,
) -> DataFrame:
    """KG completion (the Knowledge-Vault promotion path): apply mined
    chain rules back to the edges table and emit the facts the rules
    predict but the KG lacks.

    ``mined_rules`` is (a filter of) ``mine_chain_rules`` output; rules
    below ``min_pca_confidence`` are dropped (AMIE ranks by PCA
    confidence precisely because open-world KGs under-assert).  Returns
    one row per NEW fact (subj, pred, obj) with:

    * ``confidence``  — the best (max) pca_confidence among the rules
      that derived it;
    * ``n_rules``     — how many distinct rules derived it (independent
      derivations are corroboration, the Knowledge-Vault fusion signal).

    Scale shape: the rule table is ALWAYS tiny (|preds|^3 upper bound)
    — joining it first restricts the capped body join to predicate
    pairs that actually head a promoted rule, so the inference pass is
    never larger than the mining pass that produced the rules; the
    anti-join against existing facts runs on the (s, p, o) key.  The
    rule join stays UNHINTED: AQE broadcasts the rule side at runtime
    (it is small by construction, but corpus-derived — the same
    discipline as the canonical-entity map).
    """
    t = checkpoint(_facts(edges, subj, pred, obj))
    # three consumers (two predicate restrictions + the rule join) and
    # the rule plan behind it is the whole mining pass — materialize the
    # tiny promoted-rule table once
    rules = checkpoint(
        mined_rules.filter(F.col("pca_confidence") >= min_pca_confidence).select(
            "p1", "p2", "head", "pca_confidence"
        )
    )

    left = _cap_group(
        t.select(F.col("s").alias("x"), F.col("p").alias("p1"), F.col("o").alias("z")),
        ["z", "p1"],
        max_mid_degree,
    ).join(rules.select("p1").distinct(), "p1")
    right = _cap_group(
        t.select(F.col("s").alias("z"), F.col("p").alias("p2"), F.col("o").alias("y")),
        ["z", "p2"],
        max_mid_degree,
    ).join(rules.select("p2").distinct(), "p2")
    body = left.join(right, "z").select("p1", "p2", "x", "y").distinct()
    predicted = body.join(rules, ["p1", "p2"]).select(
        F.col("x").alias(subj),
        F.col("head").alias(pred),
        F.col("y").alias(obj),
        "pca_confidence",
        F.struct("p1", "p2").alias("_rule"),
    )
    new = predicted.join(
        t.select(
            F.col("s").alias(subj), F.col("p").alias(pred), F.col("o").alias(obj)
        ),
        [subj, pred, obj],
        "left_anti",
    )
    return new.groupBy(subj, pred, obj).agg(
        F.max("pca_confidence").alias("confidence"),
        F.count_distinct(F.col("_rule")).alias("n_rules"),
    )


def mine_implication_rules(
    edges: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    min_support: int = 2,
    min_confidence: float = 0.0,
) -> DataFrame:
    """Mine single-atom rules: ``p1(x, y) => p(x, y)`` (direction
    'fwd' — subsumption / predicate synonymy) and ``p1(y, x) => p(x, y)``
    (direction 'inv' — inverse predicates).  High-confidence fwd pairs
    in BOTH directions are synonym candidates for predicate
    canonicalization; inv pairs (born_in / birthplace_of) fold the two
    orientations of open-text extraction together.

    One self-join per direction on the full (x, y) key — no hub blowup
    is possible because the join key is the ENTITY PAIR, whose
    multiplicity is the number of distinct predicates between x and y
    (bounded by the predicate vocabulary, not the corpus).  p1 == head
    is excluded (trivially confidence-1).
    """
    t = checkpoint(_facts(edges, subj, pred, obj))
    pairs = t.select(F.col("p").alias("p1"), "s", "o")
    fwd = pairs.join(
        t.select(F.col("p").alias("head"), "s", "o"), ["s", "o"]
    ).withColumn("direction", F.lit("fwd"))
    inv = pairs.join(
        t.select(
            F.col("p").alias("head"), F.col("o").alias("s"), F.col("s").alias("o")
        ),
        ["s", "o"],
    ).withColumn("direction", F.lit("inv"))
    both = fwd.unionByName(inv).filter(F.col("p1") != F.col("head"))
    support = both.groupBy("p1", "head", "direction").agg(
        F.count("*").alias("support")
    )
    sizes = t.groupBy("p").agg(F.count("*").alias("n"))
    body_count = sizes.select(F.col("p").alias("p1"), F.col("n").alias("body_count"))
    head_size = sizes.select(F.col("p").alias("head"), F.col("n").alias("head_size"))
    return (
        support.join(body_count, "p1")
        .join(head_size, "head")
        .select(
            "p1",
            "head",
            "direction",
            "support",
            "body_count",
            "head_size",
            (F.col("support") / F.col("body_count")).alias("confidence"),
            (F.col("support") / F.col("head_size")).alias("head_coverage"),
        )
        .filter(
            (F.col("support") >= min_support)
            & (F.col("confidence") >= min_confidence)
        )
    )


def predicate_synonym_pairs(
    edges: DataFrame,
    subj: str = "subj_id",
    pred: str = "pred",
    obj: str = "obj_id",
    min_support: int = 2,
    min_confidence: float = 0.9,
) -> DataFrame:
    """Predicate-synonym candidates: unordered pairs (a, b) where the
    forward implication holds in BOTH directions at ``min_confidence``
    (p1 => p and p => p1 near-certain means the two predicates assert
    the same relation — open-text extraction emits both surface forms).
    One self-join of the tiny fwd-rule table on the swapped key."""
    # the self-join's two sides would each re-run the mining pass on an
    # unmaterialized plan — materialize the tiny fwd-rule table once
    fwd = checkpoint(
        mine_implication_rules(
            edges,
            subj,
            pred,
            obj,
            min_support=min_support,
            min_confidence=min_confidence,
        ).filter(F.col("direction") == "fwd")
    )
    x, y = fwd.alias("x"), fwd.alias("y")
    return (
        x.join(
            y,
            (F.col("x.p1") == F.col("y.head")) & (F.col("x.head") == F.col("y.p1")),
        )
        .filter(F.col("x.p1") < F.col("x.head"))
        .select(
            F.col("x.p1").alias("a"),
            F.col("x.head").alias("b"),
            F.least(F.col("x.confidence"), F.col("y.confidence")).alias(
                "min_confidence"
            ),
        )
    )


def predicate_canonical_map(
    synonym_pairs: DataFrame, max_rounds: int = 20
) -> DataFrame:
    """Transitive closure of the synonym pairs into (pred,
    canonical_pred) — canonical = the lexicographically smallest
    predicate of each synonym cluster (deterministic, like the
    entity-cluster keeper).

    Min-label flooding to FIXPOINT: the predicate graph is
    vocabulary-sized (bounded by the tagger's type-pair grammar /
    extraction patterns, never by the corpus), so each round is two
    HashAggregate jobs over kilobytes and the per-round 1-scalar
    changed-count read off the checkpointed label table is the same
    bounded driver-side fixed-point discipline as links.pagerank's
    dangling mass.  Rounds needed = cluster diameter; synonym clusters
    are near-cliques (bidirectional-confidence edges), so the loop
    exits after 2-3 rounds in practice; ``max_rounds`` bounds the
    pathological chain.
    """
    # two consumers of the pair table (both union branches) over a
    # possibly-unmaterialized mining plan — materialize once; the table
    # is vocabulary-sized
    e = checkpoint(synonym_pairs.select("a", "b"))
    sym = e.unionAll(e.select(F.col("b").alias("a"), F.col("a").alias("b"))).persist()
    labels = checkpoint(
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for _ in range(max_rounds):
        nbr_min = (
            sym.join(labels.select(F.col("node").alias("b"), "label"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("_nbr"))
        )
        new = checkpoint(  # O(preds): vocabulary-sized
            labels.select("node", F.col("label").alias("_old"))
            .join(nbr_min, "node", "left")
            .select(
                "node",
                F.least(F.col("_old"), F.coalesce(F.col("_nbr"), F.col("_old"))).alias(
                    "label"
                ),
                F.col("_old"),
            )
        )
        changed = new.agg(
            F.sum((F.col("label") != F.col("_old")).cast("long")).alias("n")
        ).first()["n"]
        labels = new.drop("_old")
        if not changed:
            break
    sym.unpersist()
    return labels.filter(F.col("node") != F.col("label")).select(
        F.col("node").alias("pred"), F.col("label").alias("canonical_pred")
    )


def canonicalize_predicates(
    edges: DataFrame,
    canonical_map: DataFrame,
    pred: str = "pred",
) -> DataFrame:
    """Rewrite the edges table's predicate column through the synonym
    map (predicates not in the map pass through).  The map is
    vocabulary-sized but corpus-derived, so the join stays UNHINTED —
    AQE broadcasts it at runtime (the canonical-entity-map discipline).
    Callers re-aggregate afterwards if merged predicates must collapse
    duplicate (subj, pred, obj) rows."""
    m = canonical_map.select(
        F.col("pred").alias("_from"), F.col("canonical_pred").alias("_to")
    )
    return (
        edges.join(m, edges[pred] == F.col("_from"), "left")
        .withColumn(pred, F.coalesce(F.col("_to"), F.col(pred)))
        .drop("_from", "_to")
    )
