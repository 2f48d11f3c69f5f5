#!/usr/bin/env python
"""One-off probes for r06 optimization (not part of the bench contract).

mode decontam: decompose the clean_pages decontam stage at $SPARK_GRAFT_SF_DIR.
mode cc: decompose canonicalize's LSH/CC chain.
"""
from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, "/root/repo")


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf1.0")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    from pyspark.sql import functions as F

    import __spark_entry__ as entry
    from kgce import pipeline, tagging
    from kgce.operators import decontam as dc
    from kgce.operators import linking, sampling
    from kgce.plans.stage import checkpoint
    from kgce.session import get_spark

    spark = get_spark("kgce-probe", cores=cores, shuffle_partitions=max(cores, 8))
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    def _id(batches):
        for b in batches:
            yield b

    spark.range(cores * 4).repartition(cores).mapInPandas(_id, "id long").count()

    out = {}

    def timed(label, fn, action=_noop):
        spark.sparkContext.setJobDescription(label)
        t0 = time.monotonic()
        r = fn()
        if action is not None and r is not None:
            action(r)
        out[label] = round(time.monotonic() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return r

    docs = entry._t(spark, sf_dir, "documents")
    mode = sys.argv[1] if len(sys.argv) > 1 else "decontam"

    if mode == "decontam":
        pages = docs.select(
            F.concat(
                F.lit("HTTP://Example"),
                (F.col("doc_id") % 50).cast("string"),
                F.lit(".COM:80/"),
                F.col("doc_id").cast("string"),
                F.lit("?utm_source=bench"),
            ).alias("url"),
            F.lit(None).cast("timestamp").alias("warc_ts"),
            F.lit(None).cast("binary").alias("html"),
            "text",
            "lang",
        )
        ev = docs.filter(
            sampling.hash_bucket(F.col("doc_id"), salt="eval") < 50000
        ).select("doc_id", "text")
        # cleaned through boilerplate, MATERIALIZED
        pre = pipeline.clean_pages(
            pages, canonical_urls=True, exact_dedup=True, repetition=True,
            boilerplate_min_df=3,
        ).localCheckpoint(eager=True)
        out["n_pre"] = pre.count()
        # eval gram set alone
        timed("eval_ngram_set(n=8)", lambda: dc.eval_ngram_set(ev, 8))
        g = dc.eval_ngram_set(ev, 8)
        out["n_eval_grams"] = g.count()
        # corpus shingle explode alone (no join)
        rk = F.md5(F.concat_ws("\x00", F.col("url"), F.col("text")))
        pre_rk = pre.withColumn("_rk", rk)
        timed("corpus_shingles(n=8)", lambda: pre_rk.select(
            F.col("_rk").alias("doc_id"),
            F.explode(dc.word_shingles(F.col("text"), 8)).alias("g"),
        ))
        # ngram_hits over materialized input
        timed("ngram_hits(materialized)", lambda: dc.ngram_hits(
            pre_rk, ev, n=8, id_col="_rk"))
        # full decontaminate over materialized input
        timed("decontaminate(materialized)", lambda: dc.decontaminate(
            pre_rk, ev, n=8, id_col="_rk").filter(~F.col("contaminated")))
        # full decontam over the UNmaterialized chain (as clean_pages runs it)
        pre2 = pipeline.clean_pages(
            pages, canonical_urls=True, exact_dedup=True, repetition=True,
            boilerplate_min_df=3,
        ).withColumn("_rk", rk)
        timed("decontaminate(chained)", lambda: dc.decontaminate(
            pre2, ev, n=8, id_col="_rk").filter(~F.col("contaminated")))
    elif mode == "cc":
        pages = docs.select(
            F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
            "text",
        )
        mentions = tagging.extract_mentions(pages).localCheckpoint(eager=True)
        out["n_mentions"] = mentions.count()
        vocab = linking.entity_vocab(mentions)
        out["n_vocab"] = vocab.count()
        signed = checkpoint(linking.minhash_signatures(vocab))
        timed("banded_counts", lambda: signed.select(
            "entity_key").limit(1), action=None)
        cands = linking.candidate_pairs_lsh(signed, materialize=False)
        timed("candidate_pairs_lsh", lambda: cands)
        out["n_cands"] = cands.count()
        edges = linking.verified_edges(
            linking.candidate_pairs_lsh(signed, materialize=False), 0.6)
        timed("verified_edges", lambda: edges)
        out["n_edges"] = edges.count()
        e2 = linking.verified_edges(
            linking.candidate_pairs_lsh(signed, materialize=False), 0.6)
        timed("cc_total", lambda: linking.connected_components(e2))
        # probe step alone
        e3 = linking.verified_edges(
            linking.candidate_pairs_lsh(signed, materialize=False), 0.6)
        und = (
            e3.select(F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi"))
            .filter(F.col("lo") != F.col("hi"))
            .distinct()
        )
        spark.sparkContext.setJobDescription("probe_limit_collect")
        t0 = time.monotonic()
        rows = und.limit(1_000_001).collect()
        out["probe_limit_collect"] = round(time.monotonic() - t0, 3)
        out["n_und"] = len(rows)
        spark.sparkContext.setJobDescription(None)

    print(json.dumps({"mode": mode, "sf_dir": sf_dir, "out": out}))


if __name__ == "__main__":
    main()
