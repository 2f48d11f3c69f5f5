"""Mention detection: pages -> sentences -> BIO tags -> mentions.

The scale-critical design decision: the whole chain
sentence-split -> tokenize -> tag -> BIO-repair -> span-decode is
sentence-local, so it runs as ONE ``mapInPandas`` over the pages scan —
a single narrow stage, zero shuffles between the Iceberg/parquet scan and
the mentions table.  Catalyst prunes ``html``/``warc_ts`` out of the scan
because the UDF only selects (url, text).

Taggers are pluggable: ``rule`` is the deterministic mock (shared with the
oracle so parity is exact, SURVEY.md §5.2); ``model`` is the
transformer path (reference task.py:359-432) — same interface, lazy
per-worker model load, gated on torch availability.

Reference lifecycle being re-expressed:
run_transformer_batch_prediction.py:57-72 (per-file loop -> one DataFrame),
task.py:494-505 (predict = infer + sys-label mask + __fix_bio),
output_format_converter.py:156-191 (tag2entity -> mentions).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
from itertools import groupby

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from . import oracle, schemas

TagFn = Callable[[list[str]], list[str]]


def get_tagger(name: str | TagFn = "rule", **kw) -> TagFn:
    """Resolve a tagger: ``'rule'`` (deterministic oracle twin),
    ``'model'`` (HF transformer inference, kgce.hf.HFModelTagger), or any
    TagFn-shaped callable passed through as-is (taggers exposing a
    ``tag_batch(list[list[str]])`` method get length-bucketed batched
    inference in every UDF below)."""
    if callable(name):
        return name
    if name == "rule":
        return oracle.rule_tag_sentence
    if name == "model":
        return _model_tagger(**kw)
    raise ValueError(f"unknown tagger: {name}")


def _model_tagger(model_dir: str | None = None, **kw) -> TagFn:
    """Transformer token-classifier tagger (U2, reference task.py:359-432).

    Construction is cheap and torch-free (only the model DIR is pickled
    into UDF closures); the checkpoint loads lazily once per Python
    worker on first call.  Without torch/transformers installed the first
    call raises kgce.hf.MissingDependencyError (a NotImplementedError).
    """
    import os

    from .hf import HFModelTagger

    model_dir = model_dir or os.environ.get("KGCE_MODEL_DIR")
    if not model_dir:
        raise ValueError("tagger='model' requires model_dir=... or $KGCE_MODEL_DIR")
    return HFModelTagger(model_dir, **kw)


def _tagged_page_sentences(pdf: pd.DataFrame, tag_fn: TagFn) -> list[tuple]:
    """Split + tokenize every page of one Arrow batch, then tag ALL
    sentences in ONE ``tag_batch`` call when the tagger supports it (the
    model path: length-bucketed batched inference amortized across the
    whole batch instead of one forward per sentence).  Returns
    (url, sent_id, words, char_offsets, repaired_labels) per sentence, in
    page order; the tagger sees RAW whitespace tokens while the returned
    words/offsets are the EDGE_PUNCT-stripped mention surfaces
    (oracle.core_token_offsets) consumed by span decode.  Row-level
    isolation (S5): null/empty pages contribute nothing instead of
    failing the batch."""
    sents: list[tuple] = []
    for url, text in zip(pdf["url"], pdf["text"]):
        if text is None:
            continue
        for sid, (s, e) in enumerate(oracle.split_sentences(text)):
            toks = oracle.tokenize(text[s:e], base=s)
            if not toks:
                continue
            cores = [oracle.core_token_offsets(*t) for t in toks]
            sents.append(
                (url, sid, [t[0] for t in toks],
                 [c[0] for c in cores], [(c[1], c[2]) for c in cores])
            )
    if hasattr(tag_fn, "tag_batch"):
        raw = tag_fn.tag_batch([s[2] for s in sents]) if sents else []
    else:
        raw = [tag_fn(s[2]) for s in sents]
    return [
        (u, sid, w, o, oracle.fix_bio(labs))
        for (u, sid, _raw, w, o), labs in zip(sents, raw)
    ]


# --------------------------------------------------------------------------
# pages -> sentences (S4/S5/U10)
# --------------------------------------------------------------------------


def extract_sentences(pages: DataFrame) -> DataFrame:
    """Sentence-split + tokenize with absolute char offsets.

    Narrow mapInPandas; selects only (url, text) so the binary ``html``
    column is pruned at the scan.
    """

    def split_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("url", "sent_id", "sent_start", "sent_end",
                                   "tokens", "tok_starts", "tok_ends")}
            for url, text in zip(pdf["url"], pdf["text"]):
                if text is None:
                    continue
                for sid, (s, e) in enumerate(oracle.split_sentences(text)):
                    toks = oracle.tokenize(text[s:e], base=s)
                    if not toks:
                        continue
                    out["url"].append(url)
                    out["sent_id"].append(sid)
                    out["sent_start"].append(s)
                    out["sent_end"].append(e)
                    out["tokens"].append([t[0] for t in toks])
                    out["tok_starts"].append([t[1] for t in toks])
                    out["tok_ends"].append([t[2] for t in toks])
            yield pd.DataFrame(out)

    return pages.select("url", "text").mapInPandas(split_batches, schema=schemas.SENTENCES)


# --------------------------------------------------------------------------
# sentences -> tagged sentences
# --------------------------------------------------------------------------


def tag_sentences(
    sentences: DataFrame, tagger: str = "rule", bucket_by_length: bool | None = None
) -> DataFrame:
    """Attach repaired BIO labels (tag + sys-label mask + __fix_bio).

    Batch-capable taggers (``tag_batch`` — model inference) get
    ``length_bucketed`` input automatically: similar-length sentences
    share Arrow batches, so fixed-size model batches waste minimal
    padding (the reference's ``auto=True`` DataLoader sort).  The range
    exchange this adds is the SAME single shuffle a parallelism guard
    would spend — it replaces it, not stacks on it.  Per-sentence
    taggers (rule) stay narrow: no exchange at all.  Override with
    ``bucket_by_length`` if measurement says otherwise for a workload.
    """
    if bucket_by_length is None:
        bucket_by_length = hasattr(get_tagger(tagger), "tag_batch")
    if bucket_by_length:
        sentences = length_bucketed(sentences)

    def tag_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag_fn = get_tagger(tagger)
        for pdf in it:
            pdf = pdf.copy()
            toks_list = [list(toks) for toks in pdf["tokens"]]
            if hasattr(tag_fn, "tag_batch"):
                raw = tag_fn.tag_batch(toks_list) if toks_list else []
            else:
                raw = [tag_fn(t) for t in toks_list]
            pdf["labels"] = [oracle.fix_bio(labs) for labs in raw]
            yield pdf

    return sentences.mapInPandas(tag_batches, schema=schemas.TAGGED_SENTENCES)


# --------------------------------------------------------------------------
# pages -> mentions: the fused single-stage path (the production plan)
# --------------------------------------------------------------------------


def _page_mentions(pdf: pd.DataFrame, tag_fn: TagFn) -> Iterator[tuple[str, list[tuple]]]:
    """The decode loop: (url, mentions) per page of one Arrow batch, each
    mention a (sent_id, text, type, start, end) tuple, sorted by
    (start, end) — the brat ``T1..Tn`` order (W7).  Sentences arrive
    page-contiguous, so grouping on url restores pages (one input row ==
    one page, and a page never spans UDF batches).  Pages without a
    mention yield nothing."""
    for url, page in groupby(_tagged_page_sentences(pdf, tag_fn), key=lambda t: t[0]):
        ms = [
            (sid, sp.text, sp.etype, sp.char_s, sp.char_e)
            for _, sid, words, offs, labels in page
            for sp in oracle.decode_spans_converter(words, offs, labels)
        ]
        if ms:
            ms.sort(key=lambda m: (m[3], m[4]))
            yield url, ms


def _mention_rows(pdf: pd.DataFrame, tag_fn: TagFn) -> list[tuple]:
    """``schemas.MENTIONS`` rows, mention_id numbered per page."""
    return [
        (url, sid, mid, text, s, e, etype)
        for url, ms in _page_mentions(pdf, tag_fn)
        for mid, (sid, text, etype, s, e) in enumerate(ms, start=1)
    ]


def extract_mentions(pages: DataFrame, tagger: str = "rule") -> DataFrame:
    """Fused split+tokenize+tag+repair+decode in one narrow stage.

    mention_id is assigned per page in (start, end) order — the brat
    ``T1..Tn`` numbering (W7) — computable in-UDF because a page's
    sentences never span UDF batches here (one input row == one page).
    """

    def mention_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag_fn = get_tagger(tagger)
        cols = schemas.MENTIONS.fieldNames()
        for pdf in it:
            yield pd.DataFrame(_mention_rows(pdf, tag_fn), columns=cols)

    return pages.select("url", "text").mapInPandas(mention_batches, schema=schemas.MENTIONS)


def length_bucketed(sentences: DataFrame, tokens_col: str = "tokens") -> DataFrame:
    """Length-bucketed inference batching (SURVEY §4): range-partition +
    sort sentences by token count so every Arrow batch reaching the
    inference UDF holds similar-length sentences — at a fixed model batch
    size, padding waste is minimal (the reference's analog is its
    ``auto=True`` DataLoader length sort).  Pure DataFrame ops
    (repartitionByRange + sortWithinPartitions) — no custom rule, and the
    range exchange replaces the round-robin one a plain repartition would
    add, so it costs the same one shuffle it would anyway."""
    n = F.size(F.col(tokens_col))
    return sentences.repartitionByRange(n).sortWithinPartitions(n)


def extract_mentions_with_ts(pages: DataFrame, tagger: str = "rule") -> DataFrame:
    """extract_mentions + the page's ``warc_ts`` carried through the UDF —
    event-time for streaming windowed aggregations (stateless per page,
    so streaming-safe with a plain watermark)."""
    from pyspark.sql import types as T

    schema = T.StructType(
        schemas.MENTIONS.fields + [T.StructField("warc_ts", T.TimestampType(), True)]
    )

    def mention_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag_fn = get_tagger(tagger)
        cols = schemas.MENTIONS.fieldNames()
        for pdf in it:
            ts_by_url = dict(zip(pdf["url"], pdf["warc_ts"]))
            out = pd.DataFrame(_mention_rows(pdf, tag_fn), columns=cols)
            out["warc_ts"] = out["url"].map(ts_by_url)
            yield out

    return pages.select("url", "warc_ts", "text").mapInPandas(
        mention_batches, schema=schema
    )


SENT_MENTIONS_SCHEMA = (
    "url string, sent_id long, "
    "ms array<struct<text:string, type:string, start:int, end:int>>"
)


def extract_sentence_mentions(pages: DataFrame, tagger: str = "rule") -> DataFrame:
    """One row per sentence with its mention ARRAY (ordered by start).

    The hybrid split of work for the 100-TB path: Python does only the
    linguistic part (split/tag/decode); downstream pair combinatorics run
    JVM-side (see operators.triples.pairs_from_sentence_mentions) — no
    shuffle, no Python in the O(k²) loop.
    """

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        tag_fn = get_tagger(tagger)
        for pdf in it:
            rows = []
            for url, ms in _page_mentions(pdf, tag_fn):
                by_sent: dict[int, list[tuple]] = {}
                for sid, text, etype, s, e in ms:
                    by_sent.setdefault(sid, []).append((text, etype, s, e))
                rows.extend((url, sid, sent_ms) for sid, sent_ms in by_sent.items())
            yield pd.DataFrame(rows, columns=["url", "sent_id", "ms"])

    return pages.select("url", "text").mapInPandas(batches, schema=SENT_MENTIONS_SCHEMA)
