"""Structured-Streaming ingest (optional capability).

The reference is strictly batch (SURVEY.md §2.10) — its per-file driver
loop (run_transformer_batch_prediction.py:57-72) is the closest analog to
"new crawl files keep arriving".  This module re-expresses that loop as
an incremental file-source stream: pages parquet landing in a directory
are picked up, run through the SAME fused mention-detection stage (the
mapInPandas chain is stateless per page, so it is streaming-safe with no
watermark needed), and appended to a mentions sink with exactly-once
file-sink semantics via checkpointing.

``trigger(availableNow=True)`` drains everything currently present and
stops — the batch-compatible mode used in tests; a production deployment
drops the trigger for continuous micro-batches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from . import schemas, tagging


def stream_pages(spark: SparkSession, input_dir: str) -> DataFrame:
    return (
        spark.readStream.schema(schemas.PAGES)
        .option("maxFilesPerTrigger", 16)
        .parquet(input_dir)
    )


def stream_mentions_to_parquet(
    pages_stream: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    available_now: bool = True,
):
    """pages stream -> mentions parquet sink; returns the StreamingQuery."""
    mentions = tagging.extract_mentions(pages_stream)
    writer = (
        mentions.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_mention_counts(
    pages_stream: DataFrame,
    window: str = "10 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Event-time windowed aggregation with late-data handling: mention
    counts per (entity type, warc_ts tumbling window).  The watermark
    bounds state: crawl records later than ``watermark`` behind the max
    seen event time are dropped, so state never grows with corpus size —
    the 100-TB-stream requirement.  Works identically on a batch
    DataFrame (watermark is a no-op there), which the test exploits for
    stream==batch equivalence."""
    from pyspark.sql import functions as F

    mentions = tagging.extract_mentions_with_ts(pages_stream)
    if mentions.isStreaming:
        mentions = mentions.withWatermark("warc_ts", watermark)
    return mentions.groupBy(
        F.window("warc_ts", window).alias("w"), F.col("type")
    ).agg(F.count("*").alias("n_mentions")).select(
        F.col("w.start").alias("w_start"), "type", "n_mentions"
    )


# state schema for the stateful URL-dedup operator
_SEEN_STATE = "n long"
_DEDUP_OUT = "url string, text string"


def dedup_stream_by_url(pages_stream: DataFrame) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState): exactly-once
    URL-level dedup across micro-batches — only the FIRST crawl of each
    url passes through; re-crawls in later micro-batches are dropped.

    State = one long per url key (times seen), persisted in the
    streaming state store, so the dedup survives query restarts via the
    checkpoint — the streaming analog of exact_dedup_groups.  The batch
    fallback (non-streaming input) is dropDuplicates('url'), which the
    stream==batch test exploits.
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    if not pages_stream.isStreaming:
        return pages_stream.select("url", "text").dropDuplicates(["url"])

    def dedup_fn(key, pdfs, state):
        import pandas as pd

        url = key[0]
        seen = state.get[0] if state.exists else 0
        first = None
        n = 0
        for pdf in pdfs:
            n += len(pdf)
            if first is None and len(pdf):
                first = pdf.iloc[:1][["url", "text"]]
        state.update((seen + n,))
        if seen == 0 and first is not None:
            yield first
        else:
            yield pd.DataFrame({"url": pd.Series([], dtype="object"),
                                "text": pd.Series([], dtype="object")})

    return (
        pages_stream.select("url", "text")
        .groupBy("url")
        .applyInPandasWithState(
            dedup_fn,
            outputStructType=_DEDUP_OUT,
            stateStructType=_SEEN_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def dedup_stream_by_digest(pages_stream: DataFrame) -> DataFrame:
    """Stateful exact CONTENT dedup across micro-batches: only the first
    page carrying each normalized-text digest passes through — the
    streaming analog of the batch hygiene pass's exact dedup (mirror
    sites and re-posts under different urls are dropped, not just
    re-crawls of one url).

    State = times-seen per digest key in the state store (restart-safe
    via the checkpoint).  Grouping moves only (digest, url, text) —
    digest is computed JVM-side before the shuffle.  Batch fallback:
    keep the lowest-url row per digest (deterministic keeper, matching
    pipeline.clean_pages), which the stream==batch test exploits —
    within one batch the stream variant also keeps the lowest url
    (rows are sorted before the state walk).
    """
    from pyspark.sql import functions as F
    from pyspark.sql.streaming.state import GroupStateTimeout

    from .operators.dedup import normalize_doc

    digested = pages_stream.select(
        F.md5(normalize_doc(F.col("text"))).alias("digest"), "url", "text"
    )
    if not pages_stream.isStreaming:
        from pyspark.sql import Window

        w = Window.partitionBy("digest").orderBy("url")
        return (
            digested.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("url", "text")
        )

    def dedup_fn(key, pdfs, state):
        import pandas as pd

        seen = state.get[0] if state.exists else 0
        best = None
        n = 0
        for pdf in pdfs:
            n += len(pdf)
            if len(pdf):
                cand = pdf.sort_values("url").iloc[:1][["url", "text"]]
                if best is None or cand.iloc[0]["url"] < best.iloc[0]["url"]:
                    best = cand
        state.update((seen + n,))
        if seen == 0 and best is not None:
            yield best
        else:
            yield pd.DataFrame({"url": pd.Series([], dtype="object"),
                                "text": pd.Series([], dtype="object")})

    return digested.groupBy("digest").applyInPandasWithState(
        dedup_fn,
        outputStructType=_DEDUP_OUT,
        stateStructType=_SEEN_STATE,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def hygiene_prefix(
    pages: DataFrame,
    canonical_urls: bool = True,
    repetition: bool = True,
    quality_bands: tuple[tuple[float, float], ...] | None = None,
) -> DataFrame:
    """The STATELESS (strictly per-page) subset of
    ``pipeline.clean_pages`` — url canonicalization, the Gopher-style
    repetition filter, quality-banded consistent downsampling.  Every
    stage is a pure row-local decision, so the SAME function runs on a
    streaming DataFrame (per micro-batch) and on a batch frame with
    identical keep/rewrite decisions — which is what lets a streamed
    corpus's hygiene output equal the batch hygiene output row-for-row
    (pinned in test_streaming).

    Deliberately excluded here: the cross-document stages (exact dedup,
    boilerplate/repeats document frequencies, decontamination, mixture
    realization) — those need corpus-global state; their streaming
    counterparts are the stateful dedup operators above, or a periodic
    batch pass over the merged table.  No partition guard either: each
    micro-batch arrives already split by the file source.
    """
    from pyspark.sql import functions as F

    from .operators import textstats
    from .operators.sampling import quality_hash_sample
    from .operators.urlnorm import canonicalize_url

    out = pages
    if canonical_urls:
        out = out.withColumn("url", canonicalize_url(F.col("url")))
    if repetition:
        out = textstats.repetition_filter(out, id_col="url", text_col="text")
    if quality_bands is not None:
        out = quality_hash_sample(
            out, bands=quality_bands, key_col="url", text_col="text"
        )
    return out


def stream_triples_merge(
    pages_stream: DataFrame,
    out_path: str,
    ckpt: str,
    hygiene: dict | None = None,
    provenance_k: int | None = None,
    lm_model=None,
    max_ppl: float | None = None,
    structured: bool = False,
):
    """Incremental KG maintenance: each micro-batch of crawled pages
    runs the hybrid triple chain (Python tags, JVM pairs, partial-agg
    groupBy) and MERGES its aggregated triples into the edges-source
    table — n_evidence adds, confidence takes max.  Triple aggregation
    is ASSOCIATIVE, so any micro-batch partitioning of the corpus
    converges to the same table a single batch run produces
    (stream == batch pinned in test_streaming).  Replayed micro-batches
    are skipped via the epoch markers inside the table directory
    (plans.materialize.merge_aggregated_triples — swap-atomic, so the
    additive merge stays exactly-once).

    ``hygiene`` (kwargs for :func:`hygiene_prefix`) runs the stateless
    crawl-hygiene subset INSIDE the stream, before extraction — the
    composed stream equals clean_pages-then-extract batch output
    because every prefix stage is row-local and the merge is
    associative (pinned in test_streaming).

    ``provenance_k`` maintains bounded top-k (url, confidence) evidence
    per triple ACROSS increments (materialize._rollup_with_evidence —
    exact when k covers a key's distinct urls, honestly-bounded
    otherwise; see its docstring).

    ``lm_model`` + ``max_ppl`` run the CCNet-style perplexity gate
    (operators.lmfilter) on each micro-batch INSIDE foreachBatch — the
    gate needs a per-doc aggregation joined back to the pages, which
    Structured Streaming forbids as a stream transformation in append
    mode, but each micro-batch is a plain DataFrame there.  The model
    is trained ONCE on a trusted corpus (static, never on the stream),
    so the keep decision is row-local given the model and, like every
    hygiene stage, a pure commuting filter — the composed stream still
    equals the clean_pages-then-extract batch run (pinned in
    test_streaming).

    ``structured`` unions the declared JSON-LD triples, as scored
    pairs (operators.structured.as_scored_pairs), into each
    micro-batch's text pairs before the one aggregate — extracted AFTER
    the hygiene/LM gates, matching the batch pipeline's
    extract-from-cleaned-pages stance.  Triple keys are disjoint from
    the text path's (``sdo:`` preds, literal objects), and the merge
    is the same associative sum/max (+ bounded evidence under
    ``provenance_k``), so stream == batch still holds."""
    from .operators import triples as triples_ops
    from .plans.materialize import merge_aggregated_triples

    if lm_model is not None and max_ppl is None:
        raise ValueError("stream_triples_merge: lm_model requires max_ppl")
    if hygiene is not None:
        pages_stream = hygiene_prefix(pages_stream, **hygiene)

    def _merge(batch_df, epoch_id):
        if batch_df.isEmpty():
            return
        if lm_model is not None:
            # the batch gate's row key (pipeline.clean_pages stage 4a)
            from .operators.lmfilter import perplexity_filter
            from .pipeline import _row_key

            batch_df = perplexity_filter(
                batch_df.withColumn("_rk", _row_key()),
                lm_model,
                max_ppl,
                id_col="_rk",
                text_col="text",
            ).drop("_rk", "ppl")
            if batch_df.isEmpty():
                return
        scored = triples_ops.score_pairs(
            triples_ops.pairs_from_sentence_mentions(
                tagging.extract_sentence_mentions(batch_df)
            )
        )
        if structured:
            from .operators import structured as structured_ops

            scored = scored.unionByName(
                structured_ops.as_scored_pairs(
                    structured_ops.extract_structured_triples(batch_df)
                ),
                allowMissingColumns=True,
            )
        if provenance_k is not None:
            trips = triples_ops.aggregate_triples_with_evidence(scored, k=provenance_k)
        else:
            trips = triples_ops.aggregate_triples(scored)
        merge_aggregated_triples(
            trips, out_path, epoch_id=epoch_id, provenance_k=provenance_k
        )

    return (
        pages_stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
