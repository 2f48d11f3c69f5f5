"""End-to-end pipeline: pages -> triples -> canonical ids -> nodes/edges,
plus the checkpointed variant writing real outputs."""

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgce import pipeline, schemas, synth


def _pages(spark, n=50, seed=23):
    return spark.createDataFrame(synth.gen_pages(n, seed=seed), schema=schemas.PAGES)


def test_pipeline_run_shapes(spark):
    out = pipeline.run(_pages(spark))
    trips = out["triples"]
    rows = trips.collect()
    assert len(rows) > 50
    # every triple got canonical ids (vocabulary covers all surface forms)
    assert all(r.subj_id is not None and r.obj_id is not None for r in rows)
    nodes = out["nodes"].collect()
    node_ids = {r.canonical_id for r in nodes}
    assert {r.subj_id for r in rows} <= node_ids
    assert {r.obj_id for r in rows} <= node_ids
    # canonicalization merged case/near variants: node count <= surface forms
    n_forms = out["mentions"].select(F.lower("text")).distinct().count()
    assert len(nodes) <= n_forms


def test_pipeline_checkpointed_writes_graph(spark, tmp_path):
    wd = str(tmp_path / "work")
    out = pipeline.run_checkpointed(_pages(spark, 30, seed=5), wd, n_buckets=4)
    assert out["triples"].count() > 0
    nodes = spark.read.parquet(f"{wd}/nodes")
    edges = spark.read.parquet(f"{wd}/edges")
    assert nodes.count() > 0 and edges.count() > 0
    assert "canonical_id" in nodes.columns and "subj_id" in edges.columns
    # manifests exist for both checkpointed stages
    m = spark.read.parquet(f"{wd}/mentions/_manifest")
    assert m.filter(F.col("status") == "done").count() == 4
    m2 = spark.read.parquet(f"{wd}/scored_pairs/_manifest")
    assert m2.filter(F.col("status") == "done").count() == 4


def test_clean_pages_hygiene_pass(spark):
    """Exact dedup keeps the lowest-url copy; boilerplate strip rewrites
    text; decontamination drops pages overlapping the eval set; schema
    is preserved."""
    import datetime

    base = synth.gen_pages(12, seed=41)
    footer = " legal footer applies to every page."
    rows = []
    for p in base:
        q = dict(p)
        q["text"] = q["text"] + "." + footer
        rows.append(q)
    # exact duplicate of page 0 under a later url
    dup = dict(rows[0])
    dup["url"] = "zzz://dup"
    rows.append(dup)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    ev = spark.createDataFrame(
        [("e1", rows[3]["text"])], "doc_id string, text string"
    )
    out = pipeline.clean_pages(
        pages,
        boilerplate_min_df=3,
        eval_docs=ev,
        decontam_n=5,
        decontam_min_hits=2,
    )
    got = {r.url: r.text for r in out.collect()}
    assert "zzz://dup" not in got          # dedup kept the earlier url
    assert rows[3]["url"] not in got       # decontaminated (verbatim in eval)
    assert all(footer.strip() not in t for t in got.values())  # stripped
    assert set(out.columns) == set(pages.columns)
    assert len(got) >= 8


def test_checkpointed_clean_stage_resumes(spark, tmp_path):
    """run_checkpointed with the hygiene pass enabled: the clean stage
    caches globally and a re-run reuses it (identical triples)."""
    pages = _pages(spark, 25, seed=31)
    wd = str(tmp_path / "wk")
    out1 = pipeline.run_checkpointed(
        pages, wd, n_buckets=2, clean={"exact_dedup": True, "repetition": True}
    )
    t1 = sorted(map(tuple, out1["triples"].select("subj_text", "pred", "obj_text").collect()))
    assert (tmp_path / "wk" / "clean_pages" / "data" / "_SUCCESS").exists()
    out2 = pipeline.run_checkpointed(
        pages, wd, n_buckets=2, clean={"exact_dedup": True, "repetition": True}
    )
    t2 = sorted(map(tuple, out2["triples"].select("subj_text", "pred", "obj_text").collect()))
    assert t1 == t2 and len(t1) > 0


def test_clean_pages_duplicate_url_no_cross_pairing(spark):
    """A url crawled twice with DIFFERENT content survives content dedup
    as two rows; the boilerplate rejoin must stay 1:1 (a url-keyed join
    would cross-pair them k x k)."""
    footer = " site footer sentence here."
    rows = []
    for i in range(5):
        rows.append(
            {"url": "http://a/p", "warc_ts": None, "html": None,
             "text": f"unique body number {i} alpha." + footer, "lang": "en"}
        )
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    out = pipeline.clean_pages(
        pages, exact_dedup=True, repetition=False, boilerplate_min_df=3
    ).collect()
    assert len(out) == 5  # one row per distinct content, no k^2 blowup
    assert len({r.text for r in out}) == 5
    assert all("footer" not in r.text for r in out)


def test_clean_pages_canonical_urls(spark):
    """canonical_urls=True rewrites url variants to one form, making
    them exact duplicates for the digest dedup's keeper choice."""
    rows = [
        {"url": "HTTP://A.com:80/x?utm_source=s", "warc_ts": None, "html": None,
         "text": "same body text here", "lang": "en"},
        {"url": "http://a.com/x", "warc_ts": None, "html": None,
         "text": "same body text here", "lang": "en"},
    ]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    out = pipeline.clean_pages(pages, canonical_urls=True, repetition=False).collect()
    assert len(out) == 1 and out[0].url == "http://a.com/x"


def test_clean_pages_repeats_stage(spark):
    """repeats_min_df strips cross-page repeated word spans, the
    LOWEST-URL page keeping the one surviving copy; case preserved
    (tagger-safe), unique content untouched."""
    chunk = "The Famous Template Sentence Repeated Verbatim Across Many Pages Everywhere"
    rows = [
        {"url": f"http://s{i}.example/p", "warc_ts": None, "html": None,
         "text": f"unique body number {i} alpha beta. " + chunk, "lang": "en"}
        for i in range(4)
    ]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    out = {r.url: r.text for r in pipeline.clean_pages(
        pages, exact_dedup=False, repetition=False,
        repeats_min_df=2, repeats_n=5,
    ).collect()}
    assert len(out) == 4
    keepers = [u for u, t in out.items() if "Famous Template" in t]
    assert keepers == ["http://s0.example/p"]  # lowest url keeps the copy
    for i in range(4):
        assert f"unique body number {i}" in out[f"http://s{i}.example/p"]
    from kgce.operators import repeats as rp

    rp.release_cache()


def test_clean_pages_decontam_is_row_keyed(spark):
    """A url crawled twice with different content: only the row that
    actually overlaps the eval set drops (ADVICE r3 — a url-keyed pass
    pooled n-grams across rows and dropped the clean sibling too)."""
    leak = "the quick brown fox jumps over the lazy sleeping dog tonight"
    rows = [
        {"url": "http://a/p", "warc_ts": None, "html": None,
         "text": "clean body entirely unrelated words number one here okay", "lang": "en"},
        {"url": "http://a/p", "warc_ts": None, "html": None,
         "text": "prefix words " + leak + " suffix words", "lang": "en"},
    ]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    ev = spark.createDataFrame([("e1", leak)], "doc_id string, text string")
    out = pipeline.clean_pages(
        pages, exact_dedup=False, repetition=False, eval_docs=ev, decontam_n=5
    ).collect()
    assert len(out) == 1
    assert out[0].text.startswith("clean body")
    assert set(out[0].asDict()) == set(rows[0])  # helper cols dropped


def test_eval_fingerprint_duplicate_pairs_do_not_cancel(spark):
    """ADVICE r3: XOR of plain row hashes cancels duplicate PAIRS, so
    equal-cardinality eval sets differing only in which row is
    duplicated collided.  Multiplicity-folded hashes must differ."""
    ev1 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c"), (3, "c")], "doc_id long, text string"
    )
    ev2 = spark.createDataFrame(
        [(1, "a"), (2, "b"), (4, "d"), (4, "d")], "doc_id long, text string"
    )
    from kgce.plans.lineage import frame_fingerprint

    f1, f2 = frame_fingerprint(ev1), frame_fingerprint(ev2)
    assert f1[0] == f2[0] == 4
    assert f1[1] != f2[1]
    # deterministic across recomputation
    assert frame_fingerprint(ev1) == f1
    # and empty input is stable, not an error
    assert frame_fingerprint(ev1.limit(0)) == [0, 0]


def test_clean_pages_realizes_target_mixture(spark):
    """target_mix closes the mixing_weights -> stratified sampler loop
    (r3 VERDICT #8): measured 60/30/10 en/de/fr corpus, target 50/30/20
    -> the binding stratum (fr) keeps everything and realized doc (==
    token: uniform 10-token docs) shares land on target within hash-
    sampling tolerance.  quality_bands composes in the same pass."""
    rows = []
    for lang, n in (("en", 600), ("de", 300), ("fr", 100)):
        for i in range(n):
            rows.append(
                {"url": f"http://{lang}.site/{i}", "warc_ts": None, "html": None,
                 "text": f"{lang} doc {i} " + "tok " * 7, "lang": lang}
            )
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    target = {"en": 0.5, "de": 0.3, "fr": 0.2}
    out = pipeline.clean_pages(
        pages, exact_dedup=False, repetition=False, target_mix=target
    )
    counts = {r.lang: r.cnt for r in out.groupBy("lang").agg(
        F.count("*").alias("cnt")).collect()}
    assert counts["fr"] == 100  # binding stratum keeps 1.0 exactly
    total = sum(counts.values())
    for lang, t in target.items():
        assert abs(counts[lang] / total - t) < 0.05, (lang, counts)
    assert set(out.columns) == set(pages.columns)
    # deterministic: same call -> same kept set
    again = pipeline.clean_pages(
        pages, exact_dedup=False, repetition=False, target_mix=target
    )
    assert sorted(r.url for r in again.select("url").collect()) == sorted(
        r.url for r in out.select("url").collect()
    )
    # quality banding composes (single keep-0.5 band halves the corpus)
    q = pipeline.clean_pages(
        pages, exact_dedup=False, repetition=False,
        quality_bands=((0.0, 0.5),),
    )
    frac = q.count() / len(rows)
    assert 0.4 < frac < 0.6


def test_mixing_weights_zero_target(spark):
    """An explicit 0.0 target keeps nothing (not NaN->1.0), and an
    all-zero target raises."""
    import pytest as _pytest

    from kgce.operators import mixing

    df = spark.createDataFrame(
        [(1, "en", "w " * 10), (2, "xx", "w " * 10)],
        "doc_id long, lang string, text string",
    )
    out = {r.stratum: r.keep_frac for r in
           mixing.mixing_weights(df, {"en": 1.0, "xx": 0.0}).collect()}
    assert out["xx"] == 0.0 and out["en"] == 1.0
    with _pytest.raises(ValueError):
        mixing.mixing_weights(df, {"en": 0.0})


def test_clean_pages_all_options_compose(spark):
    """Every hygiene option enabled at once: schema preserved, run is
    deterministic, and each stage's signature effect is visible (dup
    url gone, footer stripped, planted repeat kept once, contaminated
    page gone, mixture realized over the survivors)."""
    footer = " all rights reserved footer sentence."
    chunk = " The Repeated Template Chunk Appearing Verbatim On Several Pages Here"
    base = synth.gen_pages(30, seed=47)
    rows = []
    for i, p in enumerate(base):
        q = dict(p)
        q["text"] = q["text"] + "." + footer + (chunk if i % 3 == 0 else "")
        rows.append(q)
    dup = dict(rows[1]); dup["url"] = "zzz://dup"; rows.append(dup)
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    ev = spark.createDataFrame([("e", rows[5]["text"])], "doc_id string, text string")
    kwargs = dict(
        canonical_urls=True, exact_dedup=True, repetition=True,
        boilerplate_min_df=5, repeats_min_df=2, repeats_n=5,
        eval_docs=ev, decontam_n=5, decontam_min_hits=2,
        quality_bands=((0.0, 0.9),), target_mix={"en": 0.6, "de": 0.2, "fr": 0.2},
    )
    out = pipeline.clean_pages(pages, **kwargs)
    got = {r.url: r.text for r in out.collect()}
    assert set(out.columns) == set(pages.columns)
    assert "zzz://dup" not in got
    assert rows[5]["url"] not in got              # decontaminated
    assert all("rights reserved" not in t for t in got.values())
    assert sum("Repeated Template Chunk" in t for t in got.values()) <= 1
    assert len(got) > 3
    again = {r.url: r.text for r in pipeline.clean_pages(pages, **kwargs).collect()}
    assert got == again


def test_checkpointed_clean_rejects_changed_eval_set(spark, tmp_path):
    """Resuming with a DIFFERENT eval set must raise, not silently reuse
    the cached decontamination output."""
    import pytest as _pytest

    from kgce.plans.lineage import StageConfigMismatch

    pages = _pages(spark, 10, seed=33)
    ev1 = spark.createDataFrame([(1, "alpha beta gamma")], "doc_id long, text string")
    ev2 = spark.createDataFrame([(1, "delta epsilon zeta")], "doc_id long, text string")
    wd = str(tmp_path / "wk2")
    pipeline.run_checkpointed(pages, wd, n_buckets=2, clean={"eval_docs": ev1})
    with _pytest.raises(StageConfigMismatch):
        pipeline.run_checkpointed(pages, wd, n_buckets=2, clean={"eval_docs": ev2})


def test_upsert_parquet_merge_semantics(spark, tmp_path):
    """K6 MERGE analog: updates replace matching keys, keep the rest,
    and re-applying the same updates is a no-op (idempotent resume)."""
    from kgce.plans.materialize import upsert_parquet

    path = str(tmp_path / "nodes")
    base = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "c", 30)], "id long, name string, n long"
    )
    upsert_parquet(base, path, ["id"])
    upd = spark.createDataFrame(
        [(2, "b2", 21), (4, "d", 40)], "id long, name string, n long"
    )
    upsert_parquet(upd, path, ["id"])
    got = {r.id: (r.name, r.n) for r in spark.read.parquet(path).collect()}
    assert got == {1: ("a", 10), 2: ("b2", 21), 3: ("c", 30), 4: ("d", 40)}
    # idempotent: same updates again -> identical table
    upsert_parquet(upd, path, ["id"])
    again = {r.id: (r.name, r.n) for r in spark.read.parquet(path).collect()}
    assert again == got


def test_pipeline_provenance_composes_into_edges(spark, tmp_path):
    """provenance_k threads bounded top-k evidence_urls through run()
    AND run_checkpointed() into the edges table, consistent with
    n_evidence and bounded by k."""
    pages = _pages(spark, 40, seed=17)
    out = pipeline.run(pages, provenance_k=2)
    trips = out["triples"].collect()
    assert all(1 <= len(r.evidence_urls) <= 2 for r in trips)
    # every evidence url is a real page url, and a key with n_evidence >= 2
    # from >= 2 pages cites up to k distinct urls
    urls = {r.url for r in pages.select("url").collect()}
    assert all(set(r.evidence_urls) <= urls for r in trips)
    edges = out["edges"]
    assert "evidence_urls" in edges.columns
    assert edges.filter(F.size("evidence_urls") == 0).count() == 0

    wd = str(tmp_path / "work_prov")
    out2 = pipeline.run_checkpointed(pages, wd, n_buckets=4, provenance_k=2)
    edges2 = spark.read.parquet(f"{wd}/edges")
    assert "evidence_urls" in edges2.columns
    # the two paths agree on the provenance lists per (surface) key
    key = ["subj_text", "pred", "obj_text"]
    a = {tuple(r[c] for c in key): list(r.evidence_urls) for r in trips}
    b = {
        tuple(r[c] for c in key): list(r.evidence_urls)
        for r in out2["triples"].collect()
    }
    assert a == b


def test_clean_pages_domain_cap_composes(spark):
    """r4 VERDICT #8: clean_pages(domain_cap=k) keeps at most k surviving
    pages per registrable domain, deterministically (same output twice),
    and composes with the other stages (cap applies AFTER dedup)."""
    from kgce.plans.skew import domain_of

    pages = synth.gen_pages(120, seed=31, zipf_a=2.0)  # hot-domain skew
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    out = pipeline.clean_pages(df, exact_dedup=True, repetition=False, domain_cap=3)
    per_dom = (
        out.groupBy(domain_of(F.col("url")).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert per_dom and max(r.n for r in per_dom) <= 3
    # the skewed corpus actually had domains above the cap
    raw_per_dom = (
        df.groupBy(domain_of(F.col("url")).alias("d"))
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert max(r.n for r in raw_per_dom) > 3
    # deterministic: consistent-hash rank, not a random sample
    out2 = pipeline.clean_pages(df, exact_dedup=True, repetition=False, domain_cap=3)
    assert sorted(r.url for r in out.select("url").collect()) == sorted(
        r.url for r in out2.select("url").collect()
    )


def test_clean_pages_lm_gate_composes(spark):
    """clean_pages(lm_model=, max_ppl=) drops exactly the pages the
    standalone perplexity_filter drops (row-keyed, composed after
    dedup), and the gate requires max_ppl."""
    from kgce.operators import lmfilter

    trusted = spark.createDataFrame(
        [(i, "the quick brown fox jumps over the lazy dog again and again") for i in range(6)],
        ["doc_id", "text"],
    )
    lm = lmfilter.train_bigram_lm(trusted, vocab_size=64, alpha=0.1)

    # plant one in-domain page and one gibberish page
    rows = list(synth.gen_pages(40, seed=11))
    ts = rows[0]["warc_ts"]
    rows.append(
        dict(
            url="http://zz.example/good",
            warc_ts=ts,
            html=b"",
            text="the quick brown fox jumps over the lazy dog",
            lang="en",
        )
    )
    rows.append(
        dict(
            url="http://zz.example/junk",
            warc_ts=ts,
            html=b"",
            text="zx qv jj kw pz yx bq vv zz qq",
            lang="en",
        )
    )
    df = spark.createDataFrame(rows, schema=schemas.PAGES)

    out = pipeline.clean_pages(
        df, exact_dedup=True, repetition=False, lm_model=lm, max_ppl=6.0
    )
    kept = {r.url for r in out.select("url").collect()}
    assert "http://zz.example/good" in kept
    assert "http://zz.example/junk" not in kept

    # parity with the standalone filter over the same (deduped) input
    base = pipeline.clean_pages(df, exact_dedup=True, repetition=False)
    rk = F.md5(F.concat_ws("\x00", F.col("url"), F.col("text")))
    manual = lmfilter.perplexity_filter(
        base.withColumn("_rk", rk), lm, 6.0, id_col="_rk"
    )
    assert kept == {r.url for r in manual.select("url").collect()}

    import pytest

    with pytest.raises(ValueError):
        pipeline.clean_pages(df, lm_model=lm)


def test_pipeline_structured_triples_union(spark):
    """JSON-LD declared triples union into the edge set: a declared
    subject that also appears in prose resolves to the SAME canonical
    id (one node), objects stay literals (obj_id NULL), and a declared
    subject the text never mentions gets the stable xxhash64(norm)
    fallback key canonicalize would assign it."""
    from datetime import datetime

    def page(url, text, ld=None):
        html = "<html><body>" + text
        if ld:
            html += f'<script type="application/ld+json">{ld}</script>'
        html += "</body></html>"
        return {"url": url, "warc_ts": datetime(2024, 1, 1),
                "html": html.encode("utf-8"), "text": text, "lang": "en"}

    rows = [
        page("http://s.example/1",
             "Ada visited Berlin. Ada met Turing.",
             '{"@type": "Person", "name": "Ada", "jobTitle": "Countess",'
             ' "worksFor": {"name": "Analytical"}}'),
        page("http://s.example/2", "Berlin hosts Turing."),
        # declared-only entity: never tagged in any prose
        page("http://s.example/3", "no capitals here at all.",
             '{"@type": "Organization", "name": "Initech", "url": "http://i.example"}'),
    ]
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    out = pipeline.run(pages, structured=True)
    trips = out["triples"].collect()
    declared = [r for r in trips if r.pred.startswith("sdo:")]
    textual = [r for r in trips if not r.pred.startswith("sdo:")]
    assert textual and declared
    # schema identical across the union
    assert {tuple(sorted(r.asDict())) for r in declared} == {
        tuple(sorted(r.asDict())) for r in textual
    }
    # entity unification: declared "Ada" and tagged "Ada" share one id
    ada_decl = {r.subj_id for r in declared if r.subj_text == "Ada"}
    ada_text = {r.subj_id for r in textual if r.subj_text == "Ada"}
    assert len(ada_decl) == 1 and ada_decl == ada_text
    # literals never fabricate entities
    assert all(r.obj_id is None for r in declared)
    # declared-only subject: stable vocabulary-key fallback
    from kgce.operators.linking import normalize_text

    initech = [r for r in declared if r.subj_text == "Initech"]
    want_key = spark.createDataFrame([("Initech",)], "t string").select(
        F.xxhash64(normalize_text(F.col("t")))
    ).first()[0]
    assert initech and all(r.subj_id == want_key for r in initech)


def test_pipeline_structured_provenance_bounded(spark):
    """structured=True + provenance_k: declared triples carry bounded
    url-ascending evidence (constant confidence reduces the text path's
    rank to url asc), and n_evidence still counts ALL asserting pages."""
    from datetime import datetime

    ld = '{"@type": "Organization", "name": "Acme", "brand": "Anvils"}'
    rows = []
    for i in range(5):
        html = ("<html><body>Acme Anvils." +
                f'<script type="application/ld+json">{ld}</script></body></html>')
        rows.append({"url": f"http://p{i}.example/x",
                     "warc_ts": datetime(2024, 1, 1),
                     "html": html.encode("utf-8"),
                     "text": "Acme ships anvils.", "lang": "en"})
    pages = spark.createDataFrame(rows, schema=schemas.PAGES)
    out = pipeline.run(pages, provenance_k=2, structured=True)
    brand = [r for r in out["triples"].collect()
             if r.pred == "sdo:brand" and r.subj_text == "Acme"]
    assert len(brand) == 1
    assert brand[0].n_evidence == 5
    assert brand[0].evidence_urls == ["http://p0.example/x", "http://p1.example/x"]


def test_pipeline_run_with_embeddings(spark):
    """embed= trains TransE over the produced edges and attaches the
    learned vector to every entity node (embedding column, unit norm,
    ANN-ready float array)."""
    import math

    out = pipeline.run(_pages(spark), embed={"dim": 8, "epochs": 1, "lr": 0.5})
    nodes = out["nodes"]
    assert "embedding" in nodes.columns
    assert dict(nodes.dtypes)["embedding"] == "array<float>"
    rows = nodes.collect()
    # every entity that appears in an entity-object edge got a vector
    edge_ids = {r.subj_id for r in out["edges"].collect()} | {
        r.obj_id for r in out["edges"].collect() if r.obj_id is not None
    }
    with_vec = {r.canonical_id for r in rows if r.embedding is not None}
    assert edge_ids <= with_vec
    for r in rows:
        if r.embedding is not None:
            assert abs(math.sqrt(sum(v * v for v in r.embedding)) - 1.0) < 1e-5


def _table_fingerprint(df):
    """(row count, bit_xor of xxhash64 over every column, arrays sorted):
    equal for equal row multisets however they were partitioned."""
    cols = [
        F.array_sort(F.col(f.name)) if isinstance(f.dataType, T.ArrayType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h")
    ).first()
    return int(r.n), int(r.h)


def _parity_pages(spark):
    """Synthetic pages plus pages that give every option something to do:
    alias and acronym text (aliases) and JSON-LD blocks (structured)."""
    from datetime import datetime

    rows = list(synth.gen_pages(30, seed=29))
    extra = [
        ("Barack Obama visited Geneva and later Obama spoke.", None),
        ("United Nations (UN) met. People praised the United Nations today and the UN agreed.",
         None),
        ("Ada visited Berlin. Ada met Turing.",
         '{"@type": "Person", "name": "Ada", "worksFor": {"name": "Analytical"}}'),
        ("Berlin hosts Turing.", '{"@type": "Organization", "name": "Initech"}'),
    ]
    for i, (text, ld) in enumerate(extra):
        html = "<html><body>" + text
        if ld:
            html += f'<script type="application/ld+json">{ld}</script>'
        rows.append({"url": f"http://parity{i}.example/p", "warc_ts": datetime(2024, 1, 1),
                     "html": (html + "</body></html>").encode("utf-8"), "text": text,
                     "lang": "en"})
    return spark.createDataFrame(rows, schema=schemas.PAGES)


@pytest.mark.parametrize("option_set", ["none", "clean", "provenance_structured", "aliases_infer"])
def test_run_and_run_checkpointed_build_equal_tables(spark, tmp_path, option_set):
    """The in-memory and the checkpointed entry points compose one
    dataflow: equal nodes and edges (and inferred facts) for each option
    set, and a resume on the completed directory returns them again."""
    pages = _parity_pages(spark)
    opts = {
        "none": {},
        # the hygiene pass as __spark_entry__.pipeline_full sets it
        "clean": {"clean": {
            "canonical_urls": True, "exact_dedup": True, "repetition": True,
            "boilerplate_min_df": 3, "decontam_n": 8,
            "eval_docs": spark.createDataFrame(
                [(r.url, r.text) for r in pages.orderBy("url").limit(3).collect()],
                "doc_id string, text string",
            ),
        }},
        "provenance_structured": {"provenance_k": 2, "structured": True},
        "aliases_infer": {
            "aliases": {"min_docs": 1, "match_type": False},
            "infer": {"min_support": 1, "min_pca_confidence": 0.5},
        },
    }[option_set]
    tables = ["nodes", "edges"] + (["inferred"] if "infer" in opts else [])
    want = {t: _table_fingerprint(df) for t, df in pipeline.run(pages, **opts).items()
            if t in tables}
    assert want["edges"][0] > 0
    wd = str(tmp_path / "work")
    for _ in range(2):  # a fresh run, then a resume on the completed directory
        out = pipeline.run_checkpointed(pages, wd, n_buckets=4, salt_hot_domains=True, **opts)
        assert {t: _table_fingerprint(out[t]) for t in tables} == want
