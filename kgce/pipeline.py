"""End-to-end KG-construction pipeline (the north_star dataflow):

pages ──mapInPandas──> mentions ──per-sentence pairs──> scored pairs ──agg──> triples
                   └──> entity vocab ──MinHash-LSH──> edges ──CC──> canonical ids
triples ⋈ canonical ids ──> (subj_id, pred, obj_id, ...) ──> nodes/edges tables

The dataflow is written once, in ``_compose``, over a stage store with
``StageRunner``'s two methods: ``run(stage, df, transform, key)`` for a
bucketable stage and ``run_global(stage, build, config)`` for one whose
shuffle crosses any bucketing.  :func:`run` passes ``_InMemory``, which
applies each stage lazily.  :func:`run_checkpointed` passes a
``StageRunner``: each stage's output lands under the work dir with a
per-bucket manifest, so a killed run resumes mid-stage.  The mention
table feeds three consumers and goes through ``plans.stage.checkpoint``
on both paths: the in-memory UDF output is materialized, the
StageRunner's parquet read is already a leaf and stays a scan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import tagging
from .operators import linking
from .operators import triples as triples_ops
from .plans import materialize
from .plans.lineage import StageRunner
from .plans.stage import checkpoint

# the canonical-edges schema shared by text and declared (JSON-LD) triples
_EDGE_COLS = [
    "subj_id",
    "pred",
    "obj_id",
    "subj_text",
    "obj_text",
    "confidence",
    "n_evidence",
    "subj_type",
    "obj_type",
]


def _edge_cols(provenance_k: int | None) -> list[str]:
    return _EDGE_COLS + (["evidence_urls"] if provenance_k is not None else [])


def _aggregate(scored: DataFrame, provenance_k: int | None) -> DataFrame:
    if provenance_k is not None:
        return triples_ops.aggregate_triples_with_provenance(scored, k=provenance_k)
    return triples_ops.aggregate_triples(scored)


def _with_canonical_ids(
    trips: DataFrame, canon_map: DataFrame, provenance_k: int | None
) -> DataFrame:
    """Attach ``subj_id``/``obj_id`` from the (norm, canonical_id) map by
    normalized surface form."""
    subj = canon_map.withColumnRenamed("norm", "_subj_norm").withColumnRenamed(
        "canonical_id", "subj_id"
    )
    obj = canon_map.withColumnRenamed("norm", "_obj_norm").withColumnRenamed(
        "canonical_id", "obj_id"
    )
    # deliberately UNHINTED: an explicit broadcast hint OVERRIDES
    # autoBroadcastJoinThreshold (there is no automatic fallback), and the
    # normalized-surface-form vocabulary is corpus-proportional in the
    # worst case — many GB at 10^12 pages, past the BroadcastExchange
    # limit.  With AQE on (session.py) Spark broadcasts at RUNTIME when
    # the built map measures small and shuffle-joins otherwise; the skew
    # handling at this entity-linking join stays with AQE's skew-join
    # splitting either way (tests/test_plans.py pins both regimes).
    return (
        trips.withColumn("_subj_norm", linking.normalize_text(F.col("subj_text")))
        .withColumn("_obj_norm", linking.normalize_text(F.col("obj_text")))
        .join(subj, "_subj_norm", "left")
        .join(obj, "_obj_norm", "left")
        .select(*_edge_cols(provenance_k))
    )


def canonical_triples(
    mentions: DataFrame,
    threshold: float = 0.6,
    canon: DataFrame | None = None,
    provenance_k: int | None = None,
) -> DataFrame:
    """Aggregated triples with canonical entity ids attached.

    Pass a precomputed ``canon`` (linking.canonicalize output) to reuse
    one LSH + connected-components job across triples AND node building —
    recomputing it is a whole second iterative CC job.  ``provenance_k``
    adds a bounded top-k ``evidence_urls`` column (single-pass
    aggregation — no extra corpus scan).
    """
    scored = triples_ops.score_pairs(triples_ops.candidate_pairs_grouped(mentions))
    if canon is None:
        canon = linking.canonicalize(mentions, threshold=threshold)
    return _with_canonical_ids(
        _aggregate(scored, provenance_k), canon.select("norm", "canonical_id"), provenance_k
    )


def clean_pages(
    pages: DataFrame,
    canonical_urls: bool = False,
    exact_dedup: bool = True,
    repetition: bool = True,
    boilerplate_min_df: int | None = None,
    repeats_min_df: int | None = None,
    repeats_n: int = 10,
    eval_docs: DataFrame | None = None,
    decontam_n: int = 8,
    decontam_min_hits: int = 1,
    domain_cap: int | None = None,
    lm_model=None,
    max_ppl: float | None = None,
    quality_bands: tuple[tuple[float, float], ...] | None = None,
    target_mix: dict[str, float] | None = None,
    mix_strata_col: str = "lang",
) -> DataFrame:
    """Crawl-hygiene pre-pass composing the training-data operators, in
    the standard order cheap-narrow-first:

    0. url canonicalization (optional) — rewrite urls to canonical form
       so every later url key is variant-stable (pure narrow);
    1. exact dedup — one digest-keyed window keeps the lowest-url copy
       of each normalized text (the only shuffle of the raw corpus);
    2. repetition filter — pure narrow Gopher-style thresholds;
    3. boilerplate strip (optional, ``boilerplate_min_df``) — repeated
       sentences removed, all-boilerplate pages dropped;
    3b. exact-substring dedup (optional, ``repeats_min_df``) — word
       ``repeats_n``-gram spans repeated across >= repeats_min_df pages
       keep ONE copy corpus-wide (lowest-url row); matching is
       case-insensitive, surviving text keeps its case (safe in front
       of the capitalization-driven tagger);
    4. decontamination (optional, ``eval_docs``) — pages sharing
       ``decontam_min_hits`` n-grams with the eval set dropped;
    4a. LM perplexity gate (optional, ``lm_model`` + ``max_ppl``) — the
       CCNet-style quality filter: pages whose bigram perplexity under
       the TRUSTED-corpus model exceeds ``max_ppl`` are dropped
       (operators.lmfilter; the model is an input — trained once on a
       trusted corpus, never on the crawl being cleaned);
    4b. per-domain cap (optional, ``domain_cap``) — at most that many
       SURVIVING pages per registrable domain, chosen by consistent
       hash rank (operators.domains.cap_domains); runs after the
       dropping stages so the cap counts what can actually be kept,
       and before the samplers so quality/mixture fractions apply to
       the capped corpus;
    5. quality-banded downsampling (optional, ``quality_bands``) — the
       GPT-3-style keep-fraction-by-quality-score filter, consistent
       md5 hash membership keyed by url (pure narrow);
    6. mixture realization (optional, ``target_mix``) — measures the
       SURVIVING corpus's per-stratum token counts (mixing_weights),
       then applies the resulting keep fractions with the consistent
       stratified sampler, closing the feedback loop mixing.py's module
       docstring describes.  The only driver-side data is the
       per-stratum weight frame (a few rows — languages/sources).

    Returns pages with the SAME schema (text possibly rewritten by the
    boilerplate strip).  Cross-document stages (dedup DF counts,
    boilerplate DF, eval grams, mixture token counts) make this a
    GLOBAL stage — in run_checkpointed it lands under one
    all-or-nothing manifest, never per-bucket (a per-bucket run would
    count document frequency inside one bucket only).
    """
    from pyspark.sql import Window

    from .operators import boilerplate as bp_ops
    from .operators import decontam as dc
    from .operators import textstats
    from .operators.dedup import normalize_doc

    from .plans.partitioning import ensure_min_partitions

    out = pages
    if canonical_urls:
        # rewrite urls to canonical form FIRST so the digest dedup's
        # lowest-url keeper and all downstream url keys are stable
        # across tracking-param/case/port variants of the same resource
        from .operators.urlnorm import canonicalize_url

        out = out.withColumn("url", canonicalize_url(F.col("url")))
    if exact_dedup:
        w = Window.partitionBy(F.md5(normalize_doc(F.col("text")))).orderBy("url")
        out = (
            out.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    if repetition:
        # the repetition HOFs are CPU-heavy per row while the rows are
        # tiny in BYTES, so AQE's byte-based coalescing collapses the
        # dedup-window output to one partition in the small-corpus
        # regime and serializes the filter; the keyed guard restores
        # parallelism (and is a no-op at production split counts)
        out = ensure_min_partitions(out, key="url")
        out = textstats.repetition_filter(out, id_col="url", text_col="text")
    if (
        boilerplate_min_df is not None
        or repeats_min_df is not None
        or eval_docs is not None
    ):
        # the stages below consume `out` from several subtrees (strip
        # base + rejoin side, decontam shingle explode + rejoin); an
        # unmaterialized fork would re-run the dedup window and the
        # repetition filter once per consumer (CLAUDE.md multi-consumer
        # trap) — materialize once.  In run_checkpointed the whole
        # stage output lands as parquet anyway; this protects direct
        # clean_pages()/run() callers.
        out = checkpoint(out)
    if boilerplate_min_df is not None:
        # key the strip by a (url, text) row key, NOT url: a url crawled
        # twice with different content yields two surviving rows after
        # the content-digest dedup, and a url-keyed rejoin would
        # cross-pair them k x k.  The strip input is deduped per key so
        # the rejoin is exactly 1:1 per surviving row.
        rk = F.md5(F.concat_ws("\x00", F.col("url"), F.col("text")))
        out = out.withColumn("_rk", rk)
        stripped = bp_ops.strip_boilerplate(
            out.select("_rk", "text").dropDuplicates(["_rk"]),
            min_df=boilerplate_min_df,
            id_col="_rk",
        ).withColumnRenamed("doc_id", "_rk")
        out = out.drop("text").join(stripped, "_rk").drop("_rk")
    if repeats_min_df is not None:
        # row key ORDERED BY URL (url first, digest as tiebreaker): the
        # repeats keeper is min(id), so the lowest-url row keeps the one
        # surviving copy of every repeated span — the same keeper rule
        # as the content-digest dedup
        from .operators import repeats as rp

        rk2 = F.concat_ws("\x00", F.col("url"), F.md5(F.col("text")))
        out = out.withColumn("_rk", rk2)
        stripped2 = rp.strip_repeated_ngrams(
            out.select("_rk", "text").dropDuplicates(["_rk"]),
            n=repeats_n,
            min_df=repeats_min_df,
            id_col="_rk",
        ).withColumnRenamed("doc_id", "_rk")
        out = out.drop("text").join(stripped2, "_rk").drop("_rk")
    if eval_docs is not None:
        # decontaminate consumes `out` from TWO subtrees (the
        # shingle-explode hit count + the flag rejoin); after a
        # boilerplate/repeats strip-and-rejoin this materializes it once
        # (the CLAUDE.md multi-consumer trap, measured ~2x the strip cost
        # at sf1); without one, `out` is still the checkpoint above and
        # comes back unchanged
        out = checkpoint(out)
        # key by the same md5(url, text) ROW key as the boilerplate strip
        # (ADVICE r3): a url crawled twice with different content keeps
        # two rows after the content-digest dedup, and a url-keyed pass
        # would pool (and double-count) n-grams across those rows AND
        # drop every row of a url when only one overlaps the eval set.
        out = out.withColumn(
            "_rk", F.md5(F.concat_ws("\x00", F.col("url"), F.col("text")))
        )
        flagged = dc.decontaminate(
            out,
            eval_docs,
            n=decontam_n,
            min_hits=decontam_min_hits,
            id_col="_rk",
        )
        out = flagged.filter(~F.col("contaminated")).drop(
            "_rk", "n_hits", "contaminated"
        )
    if lm_model is not None:
        if max_ppl is None:
            raise ValueError("clean_pages: lm_model requires max_ppl")
        # perplexity_filter consumes its input from two subtrees (the
        # scoring explode and the rejoin side) — materialize first so
        # the hygiene prefix doesn't re-execute per consumer (the same
        # multi-consumer discipline as the boilerplate/decontam gate).
        # Row-keyed by md5(url, text) like every stage above: two
        # different-content crawls of one url score independently.
        from .operators.lmfilter import perplexity_filter

        out = checkpoint(out).withColumn(
            "_rk", F.md5(F.concat_ws("\x00", F.col("url"), F.col("text")))
        )
        out = perplexity_filter(
            out, lm_model, max_ppl, id_col="_rk", text_col="text"
        ).drop("_rk", "ppl")
    if domain_cap is not None:
        from .operators.domains import cap_domains

        out = cap_domains(out, max_pages_per_domain=domain_cap, url_col="url")
    if quality_bands is not None:
        from .operators.sampling import quality_hash_sample

        out = quality_hash_sample(
            out, bands=quality_bands, key_col="url", text_col="text"
        )
    if target_mix is not None:
        from .operators.mixing import mixing_weights
        from .operators.sampling import stratified_hash_sample

        # measure AFTER every dropping stage so the realized mixture is
        # computed over what can actually be kept; the weight frame is
        # per-stratum (languages/sources) — an O(strata) collect, the
        # same size class as the IVF codebook
        if (
            boilerplate_min_df is not None
            or repeats_min_df is not None
            or eval_docs is not None
        ):
            # `out` is about to be consumed by the token-count measure
            # AND the final filter — materialize the fork (the earlier
            # checkpoint covers only the pre-boilerplate prefix)
            out = checkpoint(out)
        w = mixing_weights(out, target_mix, strata_col=mix_strata_col)
        fracs = {r.stratum: float(r.keep_frac) for r in w.collect()}
        out = stratified_hash_sample(
            out,
            fracs,
            strata_col=mix_strata_col,
            key_col="url",
            default_fraction=0.0,
            salt="mix",
        )
    return out


def structured_canonical(
    pages: DataFrame,
    canon_map: DataFrame,
    provenance_k: int | None = None,
    structured_cfg: dict | None = None,
) -> DataFrame:
    """Declared (schema.org JSON-LD) triples in the canonical-edges
    schema, union-compatible with :func:`canonical_triples` output.

    Subjects link through the SAME canonical map as text mentions (one
    normalized-surface join), so "Ada Lovelace" declared in a page's
    JSON-LD and "Ada Lovelace" tagged in prose resolve to one node.  A
    declared subject the text pipeline never saw falls back to
    ``xxhash64(norm)`` — exactly the key canonicalize assigns a
    never-matched surface form, so ids stay stable if the entity later
    appears in text.  Objects are literals: ``obj_id`` is NULL by
    design, never a fabricated entity.

    With ``provenance_k``, bounded evidence urls are kept per triple;
    declared confidence is constant 1.0, so the text path's
    (confidence desc, url asc) top-k rank reduces to url asc — same
    ordering contract as triples.aggregate_triples_with_provenance.

    Scale shape: one narrow scan of ``pages`` (operators.structured),
    one partial-agg groupBy on the triple key, one unhinted join
    against the canonical map (AQE broadcast when small — the same
    regime as every canon join in this module).
    """
    from .operators import structured as structured_ops

    st = structured_ops.extract_structured_triples(pages, **(structured_cfg or {}))
    keys = ["subj_text", "pred", "obj_text", "subj_type"]
    if provenance_k is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(*keys).orderBy("url")
        agg = (
            st.withColumn("_rk", F.row_number().over(w))
            .groupBy(*keys)
            .agg(
                F.count("*").cast("long").alias("n_evidence"),
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_rk") <= provenance_k, F.col("url"))
                    )
                ).alias("evidence_urls"),
            )
            .select(
                *keys,
                F.lit("literal").alias("obj_type"),
                "n_evidence",
                F.lit(1.0).alias("confidence"),
                "evidence_urls",
            )
        )
    else:
        agg = structured_ops.aggregate_structured_triples(st)
    sn = linking.normalize_text(F.col("subj_text"))
    subj = canon_map.withColumnRenamed("norm", "_sn").withColumnRenamed(
        "canonical_id", "_cid"
    )
    out = (
        agg.withColumn("_sn", sn)
        .join(subj, "_sn", "left")
        .withColumn("subj_id", F.coalesce(F.col("_cid"), F.xxhash64("_sn")))
        .withColumn("obj_id", F.lit(None).cast("long"))
        .drop("_sn", "_cid")
    )
    return out.select(*_edge_cols(provenance_k))


class _InMemory:
    """Stage store of :func:`run`: each stage is its transform, applied
    lazily; nothing is written and no resume config is computed."""

    def run(self, stage, df, transform, key="url"):
        return transform(df)

    def run_global(self, stage, build, config=None):
        return build()


def _compose(
    store,
    pages: DataFrame,
    link_threshold: float,
    clean: dict | None,
    provenance_k: int | None,
    structured: bool,
    embed: dict | None,
    aliases: dict | None,
    infer: dict | None,
) -> dict[str, DataFrame]:
    """The pipeline dataflow over ``store`` (``_InMemory`` or a
    ``StageRunner``); the options are :func:`run`'s."""
    if clean is not None:
        # GLOBAL stage: dedup/boilerplate document frequencies cross any
        # bucketing, so the hygiene pass caches all-or-nothing.  A
        # StageRunner pins eval_docs in the resume config by its
        # fingerprint: a resumed run with a DIFFERENT eval set silently
        # reusing the cached output would leak the new benchmark into
        # training data — the exact failure decontamination prevents
        raw_pages = pages
        pages = store.run_global(
            "clean_pages", lambda: clean_pages(raw_pages, **clean), config=clean
        )
    # mentions feed THREE consumers (triple chain, linking vocabulary,
    # node building); unmaterialized, each re-runs the tagging UDF — a
    # full corpus pass per consumer at crawl scale
    mentions = checkpoint(store.run("mentions", pages, tagging.extract_mentions, key="url"))
    scored = store.run(
        "scored_pairs",
        mentions,
        lambda m: triples_ops.score_pairs(triples_ops.candidate_pairs_grouped(m)),
        key="url",
    )
    # canonicalization (the iterative LSH + connected-components job) is
    # a global stage: LSH pairs span buckets, and a resumed run skips it
    if aliases is not None:
        from .operators import coref

        canon = store.run_global(
            "canon",
            lambda: coref.canonicalize_with_aliases(
                mentions, pages, threshold=link_threshold, **aliases
            ),
            config={"threshold": link_threshold, "aliases": sorted(aliases.items())},
        )
    else:
        canon = store.run_global(
            "canon",
            lambda: linking.canonicalize(mentions, threshold=link_threshold),
            config={"threshold": link_threshold},
        )
    canon_map = canon.select("norm", "canonical_id")
    trips = _with_canonical_ids(_aggregate(scored, provenance_k), canon_map, provenance_k)
    if structured:
        trips = trips.unionByName(structured_canonical(pages, canon_map, provenance_k))
    nodes = materialize.build_nodes(canon, mentions)
    edges = materialize.build_edges(trips)
    if embed is not None:
        from .operators.kgembed import entity_vectors_for_ann, train_transe

        ent_emb, _rel_emb, _losses = train_transe(edges, **embed)
        vecs = entity_vectors_for_ann(ent_emb).withColumnRenamed("id", "canonical_id")
        # UNHINTED left join: the vector table is entity-vocabulary-scale
        # (same order as nodes itself) — AQE picks the strategy
        nodes = nodes.join(vecs, "canonical_id", "left")
    out = {"mentions": mentions, "triples": trips, "nodes": nodes, "edges": edges}
    if infer is not None:
        from .operators import rules as rules_ops

        mine_kw = {k: v for k, v in infer.items() if k in ("min_support", "max_mid_degree")}
        apply_kw = {
            k: v for k, v in infer.items() if k in ("min_pca_confidence", "max_mid_degree")
        }
        out["rules"] = rules_ops.mine_chain_rules(edges, **mine_kw)
        out["inferred"] = rules_ops.infer_chain_facts(edges, out["rules"], **apply_kw)
    return out


def run(
    pages: DataFrame,
    link_threshold: float = 0.6,
    clean: dict | None = None,
    provenance_k: int | None = None,
    structured: bool = False,
    embed: dict | None = None,
    aliases: dict | None = None,
    infer: dict | None = None,
) -> dict[str, DataFrame]:
    """Uncheckpointed single-job run (tests, small corpora).  ``clean``
    (kwargs for :func:`clean_pages`) enables the hygiene pre-pass;
    ``provenance_k`` carries a bounded top-k ``evidence_urls`` column
    through triples into the edges table; ``structured`` unions the
    declared JSON-LD triples (:func:`structured_canonical`) into the
    edge set — extracted from the CLEANED pages, so hygiene-dropped
    spam never asserts declared facts; ``embed`` (kwargs for
    :func:`operators.kgembed.train_transe`, e.g. ``{"dim": 16,
    "epochs": 3}``) trains TransE over the final edge set and attaches
    the learned vector to each node as an ``embedding`` column (left
    join — literal-only entities keep a null), ready for the ANN
    entity-resolution stack; ``aliases`` (kwargs for
    :func:`operators.coref.canonicalize_with_aliases`, e.g.
    ``{"min_docs": 2, "match_type": False}``) unions intra-document
    acronym/suffix alias edges into the canonicalization CC — the
    CLEANED pages supply the acronym-definition scan, so
    hygiene-dropped spam never defines an alias; ``infer`` (kwargs for
    :func:`operators.rules.infer_chain_facts`, e.g.
    ``{"min_pca_confidence": 0.9, "min_support": 3}``) mines chain
    rules over the final edge set and adds an ``inferred`` DataFrame of
    NEW (subj_id, pred, obj_id, confidence, n_rules) facts to the
    output — the Knowledge-Vault promotion loop; inferred facts are
    returned for curation, never silently merged into ``edges``."""
    return _compose(
        _InMemory(), pages, link_threshold, clean, provenance_k, structured, embed, aliases, infer
    )


def run_checkpointed(
    pages: DataFrame,
    work_dir: str,
    n_buckets: int = 8,
    link_threshold: float = 0.6,
    salt_hot_domains: bool = True,
    n_salt: int = 16,
    clean: dict | None = None,
    provenance_k: int | None = None,
    structured: bool = False,
    embed: dict | None = None,
    aliases: dict | None = None,
    infer: dict | None = None,
) -> dict[str, DataFrame]:
    """Resumable :func:`run` (same options, same tables) that writes the
    nodes and edges tables under ``work_dir``.  Mention extraction and
    pair scoring land there with per-bucket manifests (kill/re-run
    safe); the hygiene pass and canonicalization (plain or alias-aware)
    are all-or-nothing global stages keyed by their config, so a
    resumed run reuses them byte-identically.  TransE training
    checkpoints per epoch internally.

    ``salt_hot_domains`` pre-spreads Zipf-skewed crawls: pages are
    repartitioned by (domain, xxhash64(url) % n_salt) before the UDF
    stages so no task owns a whole hot domain (BASELINE.json:6,14).  The
    salt is a pure function of the url — deterministic across re-runs,
    so bucket manifests stay valid.
    """
    from .plans.skew import domain_of, salted_repartition

    if salt_hot_domains:
        pages = salted_repartition(pages, domain_of(F.col("url")), n_salt=n_salt)
    runner = StageRunner(pages.sparkSession, work_dir, n_buckets=n_buckets)
    out = _compose(
        runner, pages, link_threshold, clean, provenance_k, structured, embed, aliases, infer
    )
    materialize.write_nodes(out["nodes"], work_dir)
    materialize.write_edges(out["edges"], work_dir)
    return out


def next_frontier(
    pages: DataFrame,
    robots_txt: DataFrame | None = None,
    agent: str = "kgcebot",
    per_host_budget: int | None = None,
    known_urls: DataFrame | None = None,
    host_ranks: DataFrame | None = None,
) -> DataFrame:
    """The crawl-side composition: the next frontier a fetcher works
    through, built from what this crawl wave discovered.

    href extraction -> RFC-3986 resolution + canonicalization
    (links.extract_links) -> distinct targets -> drop already-known urls
    (left-anti against ``known_urls(url)``) -> robots-exclusion gate
    (the shuffle-free packed form, when ``robots_txt(host, text)`` is
    supplied) -> optional politeness rounds (``per_host_budget``).

    Returns (url[, host, fetch_round][, host_rank]).  ``host_ranks``
    ((node, rank) — links.pagerank over the host graph) attaches the
    crawl-scheduler priority: within a fetch round the scheduler works
    hosts in descending authority, the standard frontier ordering.
    Unknown hosts get rank 0.0 (crawl them last, not never).

    Every stage is a tested operator (test_links / test_robots); this
    function only fixes the order, the same stance as clean_pages.
    Scale notes: the only corpus-sized shuffle is the target distinct;
    the robots and rank joins are 1:1 on host against host-vocabulary
    tables; the politeness window is per-host.
    """
    from .operators import links as links_ops
    from .operators import robots as robots_ops

    urls = (
        links_ops.extract_links(pages)
        .filter(F.col("dst").isNotNull())
        .select(F.col("dst").alias("url"))
        .distinct()
    )
    if known_urls is not None:
        urls = urls.join(known_urls.select("url"), "url", "left_anti")
    if robots_txt is not None:
        packed = robots_ops.pack_rules(
            robots_ops.parse_robots(robots_txt, agent=agent)
        )
        urls = (
            robots_ops.frontier_allowed_packed(urls, packed)
            .filter(F.col("allowed"))
            .drop("allowed")
        )
    if per_host_budget is not None:
        urls = robots_ops.assign_fetch_rounds(urls, per_host_budget)
    if host_ranks is not None:
        if "host" not in urls.columns:
            urls = urls.withColumn(
                "host",
                F.lower(F.regexp_extract(F.col("url"), r"^[a-z]+://([^/?#]+)", 1)),
            )
        ranks = host_ranks.select(
            F.col("node").alias("host"), F.col("rank").alias("host_rank")
        )
        urls = urls.join(ranks, "host", "left").withColumn(
            "host_rank", F.coalesce(F.col("host_rank"), F.lit(0.0))
        )
    return urls
