"""Triple extraction parity vs the oracle (the P/R >= 0.95 gate,
BASELINE.json:6,14 — exact match expected since the tagger is shared)."""

from collections import defaultdict

from kgce import oracle, schemas, synth, tagging
from kgce.operators import triples as triples_ops


def test_triples_parity_and_gate(spark):
    pages = synth.gen_pages(80, seed=21)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    mentions = tagging.extract_mentions(df)
    scored = triples_ops.score_pairs(triples_ops.candidate_pairs(mentions))

    got = defaultdict(int)
    for r in scored.collect():
        got[(r.url, r.sent_id, r.subj_text, r.pred, r.obj_text)] += 1

    want = defaultdict(int)
    for p in pages:
        for t in oracle.page_triples(p["text"]):
            want[(p["url"], t["sent_id"], t["subj_text"], t["pred"], t["obj_text"])] += 1

    tp = sum(min(got[k], want[k]) for k in set(got) | set(want))
    n_got, n_want = sum(got.values()), sum(want.values())
    precision = tp / n_got
    recall = tp / n_want
    assert n_want > 200
    assert precision >= 0.95 and recall >= 0.95  # the BASELINE gate
    assert precision == 1.0 and recall == 1.0  # shared tagger => exact


def test_aggregate_triples(spark):
    pages = synth.gen_pages(40, seed=3)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    trips = triples_ops.aggregate_triples(
        triples_ops.score_pairs(triples_ops.candidate_pairs_grouped(tagging.extract_mentions(df)))
    )
    rows = trips.collect()
    assert all(r.n_evidence >= 1 and 0 < r.confidence <= 1.0 for r in rows)
    # aggregation key is unique
    keys = [(r.subj_text, r.pred, r.obj_text) for r in rows]
    assert len(keys) == len(set(keys))
    # evidence counts add up to the pair count
    scored = triples_ops.score_pairs(triples_ops.candidate_pairs(tagging.extract_mentions(df)))
    assert sum(r.n_evidence for r in rows) == scored.count()


def test_grouped_pairs_equal_join_pairs(spark):
    pages = synth.gen_pages(40, seed=9)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    mentions = tagging.extract_mentions(df).cache()
    cols = ["url", "sent_id", "subj_text", "subj_type", "subj_start",
            "subj_end", "obj_text", "obj_type", "obj_start", "obj_end"]
    joined = triples_ops.candidate_pairs(mentions).select(cols)
    grouped = triples_ops.candidate_pairs_grouped(mentions).select(cols)
    assert sorted(map(tuple, joined.collect())) == sorted(map(tuple, grouped.collect()))


def test_hybrid_pairs_equal_relational(spark):
    """Per-sentence mention arrays straight from the tagging UDF give the
    same scored pairs as the pipeline's mentions table grouped per
    sentence — both through the one pair core."""
    pages = synth.gen_pages(40, seed=13)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    cols = ["url", "sent_id", "subj_text", "subj_type", "pred", "obj_text", "obj_type", "confidence"]
    hybrid = triples_ops.score_pairs(
        triples_ops.pairs_from_sentence_mentions(tagging.extract_sentence_mentions(df))
    ).select(cols)
    rel = triples_ops.score_pairs(
        triples_ops.candidate_pairs_grouped(tagging.extract_mentions(df))
    ).select(cols)
    got = sorted(map(tuple, hybrid.collect()))
    assert got == sorted(map(tuple, rel.collect())) and len(got) > 0


def test_evidence_urls_topk_provenance(spark):
    """Top-k evidence URLs per triple key: bounded, strongest-first,
    deterministic, and drawn from that key's actual scored rows —
    verified against a Python top-k over the same pairs."""
    pages = synth.gen_pages(40, seed=17)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    scored = triples_ops.score_pairs(
        triples_ops.candidate_pairs_grouped(tagging.extract_mentions(df))
    ).cache()
    k = 2
    got = {
        (r.subj_text, r.pred, r.obj_text, r.subj_type, r.obj_type): list(r.evidence_urls)
        for r in triples_ops.evidence_urls(scored, k=k).collect()
    }
    rows = scored.select(
        "subj_text", "pred", "obj_text", "subj_type", "obj_type", "confidence", "url"
    ).collect()
    best: dict = {}
    for r in rows:
        key = (r.subj_text, r.pred, r.obj_text, r.subj_type, r.obj_type)
        cur = best.setdefault(key, {})
        cur[r.url] = max(cur.get(r.url, float("-inf")), r.confidence)
    want = {
        key: [u for _, u in sorted(((-c, u) for u, c in urls.items()))[:k]]
        for key, urls in best.items()
    }
    assert got == want
    # joins 1:1 onto the aggregated triples by the same key
    agg = triples_ops.aggregate_triples(scored)
    joined = agg.join(
        triples_ops.evidence_urls(scored, k=k),
        ["subj_text", "pred", "obj_text", "subj_type", "obj_type"],
    )
    assert joined.count() == agg.count()
    scored.unpersist()


def test_aggregate_with_provenance_single_pass_equivalence(spark):
    """aggregate_triples_with_provenance == aggregate_triples left-joined
    with evidence_urls — same keys, same n_evidence/confidence, same
    bounded top-k lists — computed in one pass instead of a DAG fork."""
    pages = synth.gen_pages(40, seed=17)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    scored = triples_ops.score_pairs(
        triples_ops.candidate_pairs_grouped(tagging.extract_mentions(df))
    ).cache()
    k = 2
    keys = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]
    got = {
        tuple(r[c] for c in keys): (r.n_evidence, r.confidence, list(r.evidence_urls))
        for r in triples_ops.aggregate_triples_with_provenance(scored, k=k).collect()
    }
    want_df = triples_ops.aggregate_triples(scored).join(
        triples_ops.evidence_urls(scored, k=k), keys
    )
    want = {
        tuple(r[c] for c in keys): (r.n_evidence, r.confidence, list(r.evidence_urls))
        for r in want_df.collect()
    }
    assert got == want and len(got) > 50
    scored.unpersist()
