"""The acceptance gate at FIXTURES 'correctness' scale: strict triple
parity P/R >= 0.95 vs the pure-Python oracle on a few thousand pages,
through the PRODUCTION path (the pipeline's mentions table -> grouped
pairs -> score_pairs), plus the byte-identical text invariant
(BASELINE.json:6,14,15)."""

import hashlib
from collections import defaultdict

from pyspark.sql import functions as F

from kgce import oracle, schemas, synth, tagging
from kgce.operators import triples as triples_ops

N_PAGES = 2000


def test_triple_parity_gate_correctness_scale(spark):
    pages = synth.gen_pages(N_PAGES, seed=101, zipf_a=1.5, long_frac=0.08)
    df = spark.createDataFrame(pages, schema=schemas.PAGES).repartition(16)

    got = defaultdict(int)
    scored = triples_ops.score_pairs(
        triples_ops.candidate_pairs_grouped(tagging.extract_mentions(df))
    )
    for r in scored.collect():
        got[(r.url, r.sent_id, r.subj_text, r.pred, r.obj_text)] += 1

    want = defaultdict(int)
    for p in pages:
        for t in oracle.page_triples(p["text"]):
            want[(p["url"], t["sent_id"], t["subj_text"], t["pred"], t["obj_text"])] += 1

    tp = sum(min(got[k], want[k]) for k in set(got) | set(want))
    n_got, n_want = sum(got.values()), sum(want.values())
    assert n_want > 20000  # corpus is non-trivial at this tier
    precision, recall = tp / n_got, tp / n_want
    assert precision >= 0.95 and recall >= 0.95
    assert precision == 1.0 and recall == 1.0  # shared tagger => exact


def test_byte_identical_text_at_scale(spark):
    pages = synth.gen_pages(500, seed=102)
    df = spark.createDataFrame(pages, schema=schemas.PAGES)
    got = {r.url: r.h for r in df.select("url", F.sha2("text", 256).alias("h")).collect()}
    for p in pages:
        assert got[p["url"]] == hashlib.sha256(p["text"].encode()).hexdigest()
