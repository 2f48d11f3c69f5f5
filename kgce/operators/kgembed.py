"""Distributed TransE knowledge-graph embedding training.

Closes the construction loop: the engine builds the KG (triples ->
canonical edges), TransE learns an entity/relation embedding from those
edges, and the existing ANN stack (operators/ann.py) consumes the
vectors for embedding-cosine near-duplicate ENTITY detection — the
"embedding near-dup" axis of the task brief applied to the graph the
engine itself produced.  The reference has no counterpart (its training
loop fits one GPU); this is the operator a 10^9-entity graph needs.

Scale shape (the whole point — no driver-side parameter server):

- the embedding tables ARE DataFrames ((id, vec array<double>) /
  (pred, vec)); every epoch is a fixed pipeline of joins + one
  partial-aggregated gradient reduction, checkpointed per epoch so the
  lazy lineage never grows (the pagerank lesson, CLAUDE.md);
- initialization is DETERMINISTIC md5 arithmetic (Xavier-uniform range)
  — no RNG state to ship, bit-reproducible across engines, and the
  pure-numpy oracle twin replays it exactly (hashlib);
- negative sampling needs a uniform random entity PER (edge, epoch)
  without any global ordering/row_number: entities are md5-hashed into
  ~`avg_bucket`-sized buckets, each edge md5-picks a bucket and takes
  the min-tiebreak entity inside it — one extra equi-join + min_by per
  epoch, all map-side-combinable, replicated verbatim in the oracle;
- gradient accumulation never materializes per-entity dense matrices:
  per-sample gradients posexplode to (id, pos, g) and a (id, pos)
  HashAggregate with map-side partials shrinks the shuffle to
  n_entities x dim rows before the rebuild;
- the only driver-side values are n_entities (one count) and the
  per-epoch scalar hinge loss (one first() each — O(1) rows, the same
  bounded pattern links.pagerank uses).

Semantics (Bordes et al. 2013, tail corruption):

  score d(s,p,o) = || E[s] + R[p] - E[o] ||^2  (squared L2)
  loss  = MEAN over sampled edges of max(0, margin + d_pos - d_neg),
  updated with the mean gradient (lr / n_sampled) so the step size is
  scale-free in corpus density; entity vectors renormalized to unit L2
  after every epoch; relation vectors normalized at init only.  When the sampled negative equals
  the true object the pair contributes margin to the loss and a zero
  gradient (the o_pos / o_neg terms cancel) — harmless, documented
  instead of filtered so the sampling join stays one-pass.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint

__all__ = ["init_embeddings", "train_transe", "entity_vectors_for_ann"]


def _md5_unit(col) -> "F.Column":
    """Deterministic uniform double in [0, 1) from a string column: the
    top 60 bits of md5 as a LONG (keeps HashAggregate-friendly integer
    buffers and has an exact DuckDB/python twin — CLAUDE.md) / 2^60."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long") / F.lit(
        float(1 << 60)
    )


def _l2_normalize(vec) -> "F.Column":
    """vec / ||vec||.  The norm fold is re-expanded per element by
    Catalyst (alias-hoisting does not deduplicate — CLAUDE.md), which is
    O(dim^2) multiply-adds per row; dim is a small fixed hyperparameter
    (<= a few hundred), so this stays cheaper than an Arrow round-trip."""
    norm = F.sqrt(F.aggregate(vec, F.lit(0.0), lambda a, v: a + v * v))
    return F.transform(vec, lambda v: v / norm)


def init_embeddings(
    ids: DataFrame, id_col: str, dim: int, seed: int = 0, normalize: bool = True
) -> DataFrame:
    """(id_col, vec): Xavier-uniform [-6/sqrt(dim), 6/sqrt(dim)] per
    position, derived purely from md5(id:pos:seed) — deterministic,
    shuffle-free, reproducible in the numpy oracle."""
    bound = 6.0 / math.sqrt(dim)
    key = F.col(id_col).cast("string")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(dim - 1)),
        lambda i: (
            _md5_unit(F.concat_ws(":", key, i.cast("string"), F.lit(str(seed))))
            * (2.0 * bound)
            - bound
        ),
    )
    if normalize:
        vec = _l2_normalize(vec)
    return ids.select(F.col(id_col), vec.alias("vec"))


def _entity_ids(edges: DataFrame) -> DataFrame:
    subj = edges.select(F.col("subj_id").alias("id"))
    obj = edges.filter(F.col("obj_id").isNotNull()).select(F.col("obj_id").alias("id"))
    return subj.unionAll(obj).distinct()


def _negative_ids(
    triples: DataFrame, entities: DataFrame, n_buckets: int, epoch: int, seed: int
) -> DataFrame:
    """Attach a pseudo-uniform negative entity ``neg_id`` per triple.

    Entities land in md5 buckets (~uniform); each (triple, epoch) picks
    a bucket by the same hash family and keeps the entity minimizing an
    independent md5 tiebreak.  Join fan-out is |triples| x avg bucket
    size; the min_by groupBy collapses it right back with map-side
    partials.  No row_number, no global sort, no collect."""
    ent_b = entities.select(
        "id",
        F.pmod(
            F.conv(F.substring(F.md5(F.col("id").cast("string")), 1, 15), 16, 10).cast(
                "long"
            ),
            F.lit(n_buckets),
        ).alias("bucket"),
    )
    tag = F.concat_ws(
        ":",
        F.col("subj_id").cast("string"),
        F.col("pred"),
        F.col("obj_id").cast("string"),
        F.lit(str(epoch)),
        F.lit(str(seed)),
    )
    keyed = triples.select(
        "subj_id",
        "pred",
        "obj_id",
        F.pmod(
            F.conv(F.substring(F.md5(tag), 1, 15), 16, 10).cast("long"),
            F.lit(n_buckets),
        ).alias("bucket"),
        F.md5(F.concat(tag, F.lit("#tb"))).alias("tb"),
    )
    cand = keyed.join(ent_b, "bucket")
    # LONG tiebreak, not the md5 hex string: string-typed aggregate
    # buffers force SortAggregate over the fanned-out candidate rows
    # (CLAUDE.md) — the 60-bit numeric form keeps HashAggregate
    tiebreak = F.conv(
        F.substring(
            F.md5(F.concat_ws("@", F.col("tb"), F.col("id").cast("string"))), 1, 15
        ),
        16,
        10,
    ).cast("long")
    return cand.groupBy("subj_id", "pred", "obj_id").agg(
        F.min_by("id", tiebreak).alias("neg_id")
    )


def _grad_rows(scored: DataFrame):
    """Per-sample TransE gradients for active (hinge > 0) samples,
    exploded to (id, pos, g) rows.  With d = s + p - o_pos and
    dn = s + p - o_neg:  ds = dp = 2(d - dn) = 2(o_neg - o_pos),
    do_pos = -2d, do_neg = +2dn."""
    act = scored.filter(F.col("hinge") > 0)
    two_d = F.transform(F.col("dvec"), lambda v: v * 2.0)
    two_dn = F.transform(F.col("dnvec"), lambda v: v * 2.0)
    ds = F.zip_with(two_d, two_dn, lambda a, b: a - b)
    per_sample = act.select(
        F.array(
            F.struct(F.col("subj_id").cast("string").alias("id"), ds.alias("g")),
            F.struct(F.concat(F.lit("p:"), F.col("pred")).alias("id"), ds.alias("g")),
            F.struct(
                F.col("obj_id").cast("string").alias("id"),
                F.transform(two_d, lambda v: -v).alias("g"),
            ),
            F.struct(F.col("neg_id").cast("string").alias("id"), two_dn.alias("g")),
        ).alias("contribs")
    )
    return (
        per_sample.select(F.explode("contribs").alias("c"))
        .select(F.col("c.id").alias("gid"), F.posexplode("c.g").alias("pos", "g"))
        .groupBy("gid", "pos")
        .agg(F.sum("g").alias("g"))
        .groupBy("gid")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "g"))), lambda x: x["g"]
            ).alias("grad")
        )
    )


def _apply_grads(emb: DataFrame, grads: DataFrame, id_expr, lr: float, renorm: bool) -> DataFrame:
    upd = emb.join(grads, id_expr == F.col("gid"), "left")
    vec = F.when(
        F.col("gid").isNull(), F.col("vec")
    ).otherwise(F.zip_with(F.col("vec"), F.col("grad"), lambda v, g: v - F.lit(lr) * g))
    if renorm:
        vec = _l2_normalize(vec)
    return upd.select(*[c for c in emb.columns if c != "vec"], vec.alias("vec"))


def train_transe(
    edges: DataFrame,
    dim: int = 16,
    epochs: int = 5,
    lr: float = 0.05,
    margin: float = 1.0,
    seed: int = 0,
    avg_bucket: int = 8,
    warm_ent: DataFrame | None = None,
    warm_rel: DataFrame | None = None,
):
    """Train TransE over the edges table (entity-object rows only;
    literal objects carry no obj_id and are skipped).  Returns
    ``(ent_emb, rel_emb, losses)`` — two checkpointed DataFrames
    ((id, vec) / (pred, vec)) and the per-epoch hinge-loss floats.

    ``warm_ent``/``warm_rel`` warm-start from a previous model (the
    recrawl shape: delta.maintain_snapshot updates the edge table, this
    continues training instead of relearning from scratch): entities /
    predicates present in the warm table keep their vectors, NEW ones
    get the deterministic md5 init, and entities no longer in any edge
    drop out (the vocabulary is always derived from the current edges).
    Vectors must match ``dim``.

    One epoch = negative-sample join -> 4 embedding lookups (joins on a
    table the same order of magnitude as the entity vocabulary, left
    UNHINTED so AQE picks broadcast when it fits) -> JVM zip_with
    gradient arithmetic -> (id, pos) partial-agg reduction -> update
    join -> renormalize -> eager checkpoint (lineage depth stays 1).
    """
    triples = (
        edges.filter(F.col("obj_id").isNotNull())
        .select("subj_id", "pred", "obj_id")
        .distinct()
    )
    triples = checkpoint(triples)
    entities = checkpoint(_entity_ids(triples))
    n_entities = entities.count()
    if n_entities == 0:
        raise ValueError("no entity-object edges to train on")
    n_buckets = max(1, n_entities // avg_bucket)

    def _maybe_warm(cold: DataFrame, warm: DataFrame | None, key: str) -> DataFrame:
        if warm is None:
            return checkpoint(cold)
        w = warm.select(key, F.col("vec").alias("_warm_vec"))
        return checkpoint(
            cold.join(w, key, "left").select(
                key, F.coalesce("_warm_vec", "vec").alias("vec")
            )
        )

    ent_emb = _maybe_warm(init_embeddings(entities, "id", dim, seed), warm_ent, "id")
    rel_emb = _maybe_warm(
        init_embeddings(
            triples.select("pred").distinct(), "pred", dim, seed, normalize=True
        ),
        warm_rel,
        "pred",
    )
    losses: list[float] = []
    for epoch in range(epochs):
        neg = _negative_ids(triples, entities, n_buckets, epoch, seed)
        s = ent_emb.select(F.col("id").alias("subj_id"), F.col("vec").alias("svec"))
        o = ent_emb.select(F.col("id").alias("obj_id"), F.col("vec").alias("ovec"))
        ng = ent_emb.select(F.col("id").alias("neg_id"), F.col("vec").alias("nvec"))
        p = rel_emb.select("pred", F.col("vec").alias("pvec"))
        joined = neg.join(s, "subj_id").join(o, "obj_id").join(ng, "neg_id").join(p, "pred")
        sp = F.zip_with("svec", "pvec", lambda a, b: a + b)
        scored = joined.select(
            "subj_id",
            "pred",
            "obj_id",
            "neg_id",
            F.zip_with(sp, F.col("ovec"), lambda a, b: a - b).alias("dvec"),
            F.zip_with(sp, F.col("nvec"), lambda a, b: a - b).alias("dnvec"),
        ).withColumn(
            "hinge",
            F.greatest(
                F.lit(0.0),
                F.lit(margin)
                + F.aggregate("dvec", F.lit(0.0), lambda a, v: a + v * v)
                - F.aggregate("dnvec", F.lit(0.0), lambda a, v: a + v * v),
            ),
        )
        # one materialization serves BOTH the loss scalar and the
        # gradient pass (unmaterialized forks re-run the 4-join subtree
        # per consumer — the CLAUDE.md trap); O(|triples|) rows, narrow
        scored = checkpoint(scored)
        tot, n_scored = scored.agg(F.sum("hinge"), F.count(F.lit(1))).first()
        n_scored = max(n_scored or 0, 1)
        losses.append((tot or 0.0) / n_scored)
        # MEAN-gradient step (lr / n_scored): summed hinge gradients grow
        # with graph density (a hub's gradient is degree-proportional),
        # so a fixed lr on the raw sum diverges on dense graphs — the
        # mean keeps the step scale-free in corpus size
        step = lr / n_scored
        grads = _grad_rows(scored)
        ent_emb = checkpoint(
            _apply_grads(ent_emb, grads, F.col("id").cast("string"), step, renorm=True)
        )
        rel_emb = checkpoint(
            _apply_grads(
                rel_emb, grads, F.concat(F.lit("p:"), F.col("pred")), step, renorm=False
            )
        )
    return ent_emb, rel_emb, losses


def link_prediction_ranks(
    ent_emb: DataFrame,
    rel_emb: DataFrame,
    held: DataFrame,
    filter_known: DataFrame | None = None,
) -> DataFrame:
    """Tail-prediction rank per held-out triple: (subj_id, pred, obj_id,
    rank) where rank = 1 + |{e != o : (d(s,p,e), e) <lex (d(s,p,o), o)}|
    over ALL entities — the standard TransE evaluation, 'filtered'
    protocol when ``filter_known`` (the training edges) is given: true
    (s, p, e') training objects are removed from the candidate set.

    Scale shape: the held-out set is small by construction (an eval
    sample), so it broadcasts into ONE scan of the entity-embedding
    table (|held| x |entities| score rows, partially aggregated to one
    count per held triple before the shuffle — rank-by-count, never a
    global sort of the candidate list).  The d_true lookup rides the
    same broadcast; everything is JVM fold arithmetic with strict
    left-to-right summation so the pure-python oracle agrees exactly.
    """
    s = ent_emb.select(F.col("id").alias("subj_id"), F.col("vec").alias("svec"))
    o = ent_emb.select(F.col("id").alias("obj_id"), F.col("vec").alias("ovec"))
    p = rel_emb.select("pred", F.col("vec").alias("pvec"))
    hv = (
        held.select("subj_id", "pred", "obj_id")
        .join(s, "subj_id")
        .join(o, "obj_id")
        .join(p, "pred")
    )
    sp = F.zip_with("svec", "pvec", lambda a, b: a + b)

    def _d(target):
        diff = F.zip_with(sp, target, lambda a, b: a - b)
        return F.aggregate(diff, F.lit(0.0), lambda a, v: a + v * v)

    hv = hv.select("subj_id", "pred", "obj_id", sp.alias("spvec"), _d(F.col("ovec")).alias("d_true"))
    cand = F.broadcast(hv).crossJoin(
        ent_emb.select(F.col("id").alias("cand_id"), F.col("vec").alias("cvec"))
    )
    if filter_known is not None:
        known = filter_known.select(
            "subj_id", "pred", F.col("obj_id").alias("cand_id")
        ).distinct()
        cand = cand.join(known, ["subj_id", "pred", "cand_id"], "left_anti")
    diff = F.zip_with("spvec", "cvec", lambda a, b: a - b)
    d_cand = F.aggregate(diff, F.lit(0.0), lambda a, v: a + v * v)
    better = (
        (F.col("cand_id") != F.col("obj_id"))
        & (
            (d_cand < F.col("d_true"))
            | ((d_cand == F.col("d_true")) & (F.col("cand_id") < F.col("obj_id")))
        )
    ).cast("long")
    return cand.groupBy("subj_id", "pred", "obj_id").agg(
        (F.sum(better) + 1).alias("rank")
    )


def link_prediction_metrics(ranks: DataFrame, ks=(1, 10)) -> DataFrame:
    """One row: mean rank, MRR and hits@k over the rank table."""
    aggs = [
        F.avg(F.col("rank").cast("double")).alias("mean_rank"),
        F.avg(F.lit(1.0) / F.col("rank")).alias("mrr"),
    ]
    for k in ks:
        aggs.append(F.avg((F.col("rank") <= k).cast("double")).alias(f"hits_at_{k}"))
    return ranks.agg(*aggs)


def entity_vectors_for_ann(ent_emb: DataFrame) -> DataFrame:
    """(id, embedding array<float>) in the shape operators/ann.py
    consumes — the bridge from learned KG embeddings to the existing
    cosine near-dup / top-k machinery (embedding-driven entity
    resolution)."""
    return ent_emb.select(
        "id", F.col("vec").cast("array<float>").alias("embedding")
    )
