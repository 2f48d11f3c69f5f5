"""Incremental ingest: streaming mention extraction must equal the batch
result, and resume its checkpoint across restarts (no reprocessing)."""

from kgce import schemas, streaming, synth, tagging


def _write_pages(spark, path, pages):
    spark.createDataFrame(pages, schema=schemas.PAGES).write.mode("append").parquet(path)


def test_stream_equals_batch_and_resumes(spark, tmp_path):
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    batch1 = synth.gen_pages(20, seed=51)
    _write_pages(spark, in_dir, batch1)

    q = streaming.stream_mentions_to_parquet(
        streaming.stream_pages(spark, in_dir), out_dir, ckpt
    )
    assert q.awaitTermination(300), "stream did not finish within 300s"
    got1 = spark.read.parquet(out_dir).count()
    want1 = tagging.extract_mentions(
        spark.createDataFrame(batch1, schema=schemas.PAGES)
    ).count()
    assert got1 == want1 > 0

    # second wave of files: restart picks up ONLY the new ones
    batch2 = synth.gen_pages(10, seed=52)
    _write_pages(spark, in_dir, batch2)
    q2 = streaming.stream_mentions_to_parquet(
        streaming.stream_pages(spark, in_dir), out_dir, ckpt
    )
    assert q2.awaitTermination(300), "stream did not finish within 300s"
    got2 = spark.read.parquet(out_dir).count()
    want2 = tagging.extract_mentions(
        spark.createDataFrame(batch2, schema=schemas.PAGES)
    ).count()
    assert got2 == want1 + want2  # incremental, no reprocessing


def test_windowed_mention_counts_stream_equals_batch(spark, tmp_path):
    """Watermarked event-time windows: the streaming aggregate (complete
    over availableNow) equals the same aggregation run in batch."""
    in_dir = str(tmp_path / "win_in")
    pages = synth.gen_pages(30, seed=61)
    _write_pages(spark, in_dir, pages)

    agg = streaming.windowed_mention_counts(streaming.stream_pages(spark, in_dir))
    q = (
        agg.writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish within 300s"
    got = {
        (r.w_start, r.type): r.n_mentions
        for r in spark.sql("select * from win_counts").collect()
    }
    want = {
        (r.w_start, r.type): r.n_mentions
        for r in streaming.windowed_mention_counts(
            spark.createDataFrame(pages, schema=schemas.PAGES)
        ).collect()
    }
    assert got == want and len(want) > 0


def test_stateful_url_dedup_across_microbatches(spark, tmp_path):
    """applyInPandasWithState: a url re-crawled in a LATER micro-batch is
    dropped (state store remembers it); batch fallback agrees."""
    in_dir = str(tmp_path / "dd_in")
    first = synth.gen_pages(12, seed=71)
    _write_pages(spark, in_dir, first)
    # re-crawl: same urls again (newer text suffix), one genuinely new page
    recrawl = [dict(p, text=p["text"] + " updated") for p in first[:6]]
    fresh = [dict(p, url=p["url"] + "?new=1") for p in synth.gen_pages(1, seed=72)]
    _write_pages(spark, in_dir, recrawl + fresh)

    # maxFilesPerTrigger=1 forces multiple micro-batches within one run
    stream = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming.dedup_stream_by_url(stream)
        .writeStream.format("memory")
        .queryName("dedup_urls")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    # awaitTermination returns False (no raise) on timeout — assert it,
    # otherwise a slow shared host yields PARTIAL results and the set
    # comparison below fails with a misleading message (r3 flake)
    assert q.awaitTermination(300), "stream did not finish within 300s"
    got = [r.url for r in spark.sql("select url from dedup_urls").collect()]
    assert len(got) == len(set(got))  # every url exactly once
    all_pages = spark.createDataFrame(first + recrawl + fresh, schema=schemas.PAGES)
    want = {r.url for r in streaming.dedup_stream_by_url(all_pages).collect()}
    assert set(got) == want


def test_stateful_digest_dedup_across_microbatches(spark, tmp_path):
    """dedup_stream_by_digest: identical CONTENT under different urls in
    later micro-batches is dropped; batch fallback (lowest-url keeper)
    agrees with the streamed result."""
    in_dir = str(tmp_path / "dg_in")
    first = synth.gen_pages(10, seed=81)
    _write_pages(spark, in_dir, first)
    # mirrors: same text, different urls, later files; plus one new page
    mirrors = [dict(p, url="mirror://" + p["url"]) for p in first[:5]]
    fresh = [dict(p, url=p["url"] + "?v=2") for p in synth.gen_pages(1, seed=82)]
    _write_pages(spark, in_dir, mirrors + fresh)

    stream = (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 1)
        .parquet(in_dir)
    )
    q = (
        streaming.dedup_stream_by_digest(stream)
        .writeStream.format("memory")
        .queryName("dedup_digests")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish within 300s"
    got = {r.url: r.text for r in spark.sql("select * from dedup_digests").collect()}
    texts = list(got.values())
    assert len(texts) == len(set(texts))  # one survivor per content digest
    assert not any(u.startswith("mirror://") for u in got)  # originals came first
    all_pages = spark.createDataFrame(first + mirrors + fresh, schema=schemas.PAGES)
    want_texts = {
        r.text for r in streaming.dedup_stream_by_digest(all_pages).collect()
    }
    assert set(texts) == want_texts


def test_streaming_narrow_hygiene_equals_batch(spark, tmp_path):
    """The STATELESS hygiene subset (url canonicalization, repetition
    filter, quality banding, stratified sampling) is pure narrow and
    therefore streaming-compatible as-is: applying the same operators
    to a readStream produces exactly the batch rows.  (The cross-doc
    stages — digest dedup, boilerplate, repeats, decontam — are global
    by nature; their streaming counterpart is the stateful digest dedup
    tested above.)"""
    from pyspark.sql import functions as F

    from kgce.operators import sampling, textstats
    from kgce.operators.urlnorm import canonicalize_url

    in_dir = str(tmp_path / "hy_in")
    out_dir = str(tmp_path / "hy_out")
    ckpt = str(tmp_path / "hy_ckpt")
    pages = synth.gen_pages(30, seed=61)
    _write_pages(spark, in_dir, pages)

    def hygiene(df):
        df = df.withColumn("url", canonicalize_url(F.col("url")))
        df = textstats.repetition_filter(df, id_col="url", text_col="text")
        df = sampling.quality_hash_sample(
            df, bands=((0.0, 0.5),), key_col="url", text_col="text"
        )
        return sampling.stratified_hash_sample(
            df, {"en": 1.0, "de": 0.5}, strata_col="lang", key_col="url",
            default_fraction=0.25,
        )

    stream = hygiene(spark.readStream.schema(schemas.PAGES).parquet(in_dir))
    q = (
        stream.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    assert q.awaitTermination(300), "stream did not finish within 300s"
    got = sorted(r.url for r in spark.read.parquet(out_dir).select("url").collect())
    want = sorted(
        r.url
        for r in hygiene(spark.createDataFrame(pages, schema=schemas.PAGES))
        .select("url")
        .collect()
    )
    assert got == want and len(got) > 0


def test_stream_triples_merge_equals_batch(spark, tmp_path):
    """Incremental KG maintenance: triples merged across two streamed
    waves equal one batch run over the union (sum/max associativity),
    and a replayed epoch merge is a no-op (exactly-once markers)."""
    from kgce.operators import triples as triples_ops
    from kgce.plans.materialize import merge_aggregated_triples

    in_dir = str(tmp_path / "tm_in")
    out = str(tmp_path / "tm_edges")
    ckpt = str(tmp_path / "tm_ckpt")
    wave1 = synth.gen_pages(15, seed=71)
    wave2 = synth.gen_pages(10, seed=72)

    _write_pages(spark, in_dir, wave1)
    q = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt
    )
    assert q.awaitTermination(300)
    _write_pages(spark, in_dir, wave2)
    q2 = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt
    )
    assert q2.awaitTermination(300)

    cols = ["subj_text", "pred", "obj_text", "subj_type", "obj_type",
            "n_evidence", "confidence"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    all_pages = spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES)
    want = sorted(map(tuple,
                      triples_ops.extract_triples_hybrid(all_pages).select(*cols).collect()))
    assert got == want and len(got) > 0

    # replaying an already-merged epoch must not double-count
    replay = triples_ops.extract_triples_hybrid(
        spark.createDataFrame(wave2, schema=schemas.PAGES)
    )
    merge_aggregated_triples(replay, out, epoch_id=1)
    again = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    assert again == got


def test_merge_recovers_interrupted_swap(spark, tmp_path):
    """Every crash window of the staged atomic swap is repaired on the
    next call: roll-forward once _swap_ready exists, roll-back before —
    never a missing table, never a double-counted epoch."""
    import shutil
    from pathlib import Path

    from kgce.plans import materialize as mat

    def mk(rows):
        return spark.createDataFrame(
            rows,
            "subj_text string, pred string, obj_text string, subj_type string, "
            "obj_type string, n_evidence long, confidence double",
        )

    t0 = [("a", "rel:x", "b", "per", "loc", 2, 0.5)]
    t1 = [("a", "rel:x", "b", "per", "loc", 3, 0.9)]
    out = tmp_path / "edges"
    p = Path(out)

    def table():
        return sorted(map(tuple, spark.read.parquet(str(out)).collect()))

    # --- crash BEFORE _swap_ready (mid-staging): roll back, re-merge is safe
    mat.merge_aggregated_triples(mk(t0), str(out), epoch_id=0)
    base = table()
    staging = mat._staging_of(p)
    mk(t1).write.mode("overwrite").parquet(str(staging))  # no _swap_ready
    mat.merge_aggregated_triples(mk(t1), str(out), epoch_id=1)
    assert table() == [("a", "rel:x", "b", "per", "loc", 5, 0.9)]
    assert not staging.exists() and not mat._old_of(p).exists()

    # --- crash BETWEEN the two renames (p gone, staged table complete):
    # roll FORWARD — the accumulated history must not be lost
    shutil.rmtree(out)
    mat.merge_aggregated_triples(mk(t0), str(out), epoch_id=0)
    mat.merge_aggregated_triples(mk(t1), str(out), epoch_id=1)
    merged = table()
    # simulate: epoch 2's staging committed (_swap_ready), p renamed away
    mk([("c", "rel:y", "d", "org", "org", 1, 0.1)]).write.mode("overwrite").parquet(
        str(staging)
    )
    for m in p.glob("_epoch_*"):
        (staging / m.name).touch()
    (staging / "_epoch_2").touch()
    (staging / mat._SWAP_READY).touch()
    p.rename(mat._old_of(p))
    # a replay of epoch 2 must first complete the swap, then skip (marker)
    mat.merge_aggregated_triples(
        mk([("c", "rel:y", "d", "org", "org", 1, 0.1)]), str(out), epoch_id=2
    )
    assert sorted(table()) == sorted(
        [("c", "rel:y", "d", "org", "org", 1, 0.1)]
    ) and not mat._old_of(p).exists()

    # --- crash with only __old left (staging incomplete): roll back
    shutil.rmtree(out)
    mat.merge_aggregated_triples(mk(t0), str(out), epoch_id=0)
    p.rename(mat._old_of(p))
    mk(t1).write.mode("overwrite").parquet(str(staging))  # incomplete staging
    mat.merge_aggregated_triples(mk(t1), str(out), epoch_id=1)
    assert table() == [("a", "rel:x", "b", "per", "loc", 5, 0.9)]
    assert base == [("a", "rel:x", "b", "per", "loc", 2, 0.5)]


def test_stream_hygiene_prefix_composes_with_triples_merge(spark, tmp_path):
    """r4 VERDICT #5: the stateless hygiene prefix runs INSIDE the
    stream before extraction, and the composed stream (two waves)
    equals clean_pages-then-extract over the union in one batch —
    row-local hygiene decisions + associative triple merge."""
    from kgce import pipeline
    from kgce.operators import triples as triples_ops

    in_dir = str(tmp_path / "hp_in")
    out = str(tmp_path / "hp_edges")
    ckpt = str(tmp_path / "hp_ckpt")
    bands = ((0.0, 0.6),)
    hyg = {"canonical_urls": True, "repetition": True, "quality_bands": bands}
    wave1 = synth.gen_pages(15, seed=81)
    wave2 = synth.gen_pages(10, seed=82)

    _write_pages(spark, in_dir, wave1)
    q = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt, hygiene=hyg
    )
    assert q.awaitTermination(300)
    _write_pages(spark, in_dir, wave2)
    q2 = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt, hygiene=hyg
    )
    assert q2.awaitTermination(300)

    cols = ["subj_text", "pred", "obj_text", "subj_type", "obj_type",
            "n_evidence", "confidence"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    cleaned = pipeline.clean_pages(
        spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES),
        canonical_urls=True,
        exact_dedup=False,
        repetition=True,
        quality_bands=bands,
    )
    want = sorted(map(tuple,
                      triples_ops.extract_triples_hybrid(cleaned).select(*cols).collect()))
    assert got == want and len(got) > 0
    # the hygiene actually dropped something (non-vacuous composition)
    n_all = triples_ops.extract_triples_hybrid(
        spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES)
    ).count()
    assert len(got) < n_all


def test_stream_lm_gate_composes_with_triples_merge(spark, tmp_path):
    """The CCNet-style perplexity gate runs per micro-batch inside
    foreachBatch (static trusted-corpus model, row-local keep decision),
    composed AFTER the stateless hygiene prefix — the two-wave stream
    equals clean_pages(lm_model, max_ppl)-then-extract over the union in
    one batch, and the gate is non-vacuous (drops pages the hygiene
    prefix kept)."""
    from kgce import pipeline
    from kgce.operators import triples as triples_ops
    from kgce.operators.lmfilter import train_bigram_lm

    in_dir = str(tmp_path / "lm_in")
    out = str(tmp_path / "lm_edges")
    ckpt = str(tmp_path / "lm_ckpt")
    hyg = {"canonical_urls": True, "repetition": True}
    # trusted corpus: disjoint seed — the model is never trained on the
    # stream being cleaned (CCNet stance, pinned by construction here)
    trusted = spark.createDataFrame(synth.gen_pages(40, seed=99), schema=schemas.PAGES)
    lm = train_bigram_lm(trusted, id_col="url", text_col="text", vocab_size=64)
    lm = type(lm)(lm.vocab.persist(), lm.contexts.persist(),
                  lm.bigrams.persist(), lm.alpha, lm.v)
    wave1 = synth.gen_pages(15, seed=83)
    wave2 = synth.gen_pages(10, seed=84)
    union_pages = spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES)

    # pick a cutoff at the union's median ppl so the gate provably
    # drops some survivors and keeps others (non-vacuous both ways)
    from kgce.operators.lmfilter import perplexity

    ppls = sorted(
        r.ppl
        for r in perplexity(union_pages, lm, id_col="url", text_col="text").collect()
        if r.ppl is not None
    )
    cutoff = float(ppls[len(ppls) // 2])

    _write_pages(spark, in_dir, wave1)
    q = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt,
        hygiene=hyg, lm_model=lm, max_ppl=cutoff,
    )
    assert q.awaitTermination(300)
    _write_pages(spark, in_dir, wave2)
    q2 = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt,
        hygiene=hyg, lm_model=lm, max_ppl=cutoff,
    )
    assert q2.awaitTermination(300)

    cols = ["subj_text", "pred", "obj_text", "subj_type", "obj_type",
            "n_evidence", "confidence"]
    got = sorted(map(tuple, spark.read.parquet(out).select(*cols).collect()))
    cleaned = pipeline.clean_pages(
        union_pages,
        canonical_urls=True,
        exact_dedup=False,
        repetition=True,
        lm_model=lm,
        max_ppl=cutoff,
    )
    want = sorted(map(tuple,
                      triples_ops.extract_triples_hybrid(cleaned).select(*cols).collect()))
    assert got == want and len(got) > 0
    # the gate actually dropped something beyond the hygiene prefix
    n_no_gate = triples_ops.extract_triples_hybrid(
        pipeline.clean_pages(union_pages, canonical_urls=True,
                             exact_dedup=False, repetition=True)
    ).count()
    assert len(got) < n_no_gate
    for df in (lm.vocab, lm.contexts, lm.bigrams):
        df.unpersist()


def test_stream_structured_triples_merge(spark, tmp_path):
    """Declared JSON-LD triples union into the streamed KG merge: the
    two-wave stream equals one batch run (text and declared scored
    pairs through one aggregate), including exact bounded evidence when k
    covers every key's distinct urls.  sdo: keys are disjoint from the
    text path's, so neither contaminates the other's aggregates."""
    from kgce import tagging
    from kgce.operators import structured as structured_ops
    from kgce.operators import triples as triples_ops

    ld = '{"@type": "Person", "name": "Ada", "jobTitle": "Countess"}'

    def with_ld(pages, every=3):
        out = []
        for i, p in enumerate(pages):
            p = dict(p)
            if i % every == 0:
                p["html"] = (
                    b"<html><body>"
                    + f'<script type="application/ld+json">{ld}</script>'.encode()
                    + p["text"].encode()
                    + b"</body></html>"
                )
            out.append(p)
        return out

    wave1 = with_ld(synth.gen_pages(12, seed=85))
    wave2 = with_ld(synth.gen_pages(8, seed=86))
    for p in wave2:  # recrawl waves are url-disjoint here (re-crawl
        # updates are the delta operator's job, not the append-only
        # stream's)
        p["url"] = p["url"].replace("/page/", "/w2/page/")
    union_pages = spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES)

    in_dir = str(tmp_path / "sd_in")
    out = str(tmp_path / "sd_edges")
    ckpt = str(tmp_path / "sd_ckpt")
    k = 100  # covers every key's distinct urls -> merge is EXACT
    _write_pages(spark, in_dir, wave1)
    q = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt,
        provenance_k=k, structured=True,
    )
    assert q.awaitTermination(300)
    _write_pages(spark, in_dir, wave2)
    q2 = streaming.stream_triples_merge(
        streaming.stream_pages(spark, in_dir), out, ckpt,
        provenance_k=k, structured=True,
    )
    assert q2.awaitTermination(300)

    def norm(rows):
        return sorted(
            (r.subj_text, r.pred, r.obj_text, r.subj_type, r.obj_type,
             r.n_evidence, r.confidence,
             tuple((e.url, e.confidence) for e in r.evidence))
            for r in rows
        )

    got = norm(spark.read.parquet(out).collect())
    text = triples_ops.score_pairs(
        triples_ops.pairs_from_sentence_mentions(
            tagging.extract_sentence_mentions(union_pages)
        )
    )
    st = structured_ops.as_scored_pairs(
        structured_ops.extract_structured_triples(union_pages)
    )
    want = norm(
        triples_ops.aggregate_triples_with_evidence(
            text.unionByName(st, allowMissingColumns=True), k=k
        ).collect()
    )
    assert got == want and len(got) > 0
    # declared rows actually present, asserted by every LD page
    sdo = [g for g in got if g[1] == "sdo:jobTitle"]
    assert len(sdo) == 1 and sdo[0][5] == 7  # 4 LD pages in wave1 + 3 in wave2


def test_stream_triples_merge_with_provenance(spark, tmp_path):
    """Bounded evidence provenance maintained ACROSS streamed increments:
    with k covering every key's distinct urls the merge is EXACT vs one
    batch; with small k the documented bounded-merge guarantees hold
    (subset of true urls, exact top-1, exact n_evidence/confidence)."""
    from kgce import tagging
    from kgce.operators import triples as triples_ops

    wave1 = synth.gen_pages(15, seed=71)
    wave2 = synth.gen_pages(10, seed=72)
    union_pages = spark.createDataFrame(wave1 + wave2, schema=schemas.PAGES)

    def batch_evidence(k):
        scored = triples_ops.score_pairs(
            triples_ops.pairs_from_sentence_mentions(
                tagging.extract_sentence_mentions(union_pages)
            )
        )
        return triples_ops.aggregate_triples_with_evidence(scored, k=k)

    def run_stream(k, tag):
        in_dir = str(tmp_path / f"pv_in_{tag}")
        out = str(tmp_path / f"pv_edges_{tag}")
        ckpt = str(tmp_path / f"pv_ckpt_{tag}")
        _write_pages(spark, in_dir, wave1)
        q = streaming.stream_triples_merge(
            streaming.stream_pages(spark, in_dir), out, ckpt, provenance_k=k
        )
        assert q.awaitTermination(300)
        _write_pages(spark, in_dir, wave2)
        q2 = streaming.stream_triples_merge(
            streaming.stream_pages(spark, in_dir), out, ckpt, provenance_k=k
        )
        assert q2.awaitTermination(300)
        return spark.read.parquet(out)

    keys = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]

    def as_map(df):
        return {
            tuple(r[c] for c in keys): (
                r.n_evidence,
                r.confidence,
                [(e.url, e.confidence) for e in r.evidence],
            )
            for r in df.collect()
        }

    # k >= any key's distinct urls (25 pages total) -> exact merge
    got = as_map(run_stream(50, "big"))
    want = as_map(batch_evidence(50))
    assert got == want and len(got) > 0

    # small k: bounded guarantees
    got2 = as_map(run_stream(2, "small"))
    exact = as_map(batch_evidence(2))
    full = as_map(batch_evidence(50))
    assert set(got2) == set(exact)
    for key, (n, c, ev) in got2.items():
        n_x, c_x, ev_x = exact[key]
        assert (n, c) == (n_x, c_x)          # counts/conf always exact
        assert len(ev) <= 2
        true_urls = {u for u, _ in full[key][2]}
        assert {u for u, _ in ev} <= true_urls   # never a fabricated url
        assert ev[0] == ev_x[0]              # top-1 (url, conf) exact
