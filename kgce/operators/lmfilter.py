"""Language-model perplexity quality filtering (CCNet-style).

Production web pipelines (CCNet, RefinedWeb, Dolma) gate documents on
the perplexity of a small language model trained on a trusted corpus:
well-formed prose scores low, boilerplate/gibberish/keyword-stuffing
scores high.  The reference engine (ClinicalTransformerNER) has no
counterpart — beyond-reference web tooling per the task brief, same
stance as urlnorm/domains/links.

The in-sandbox baseline is an add-alpha-smoothed BIGRAM model (KenLM
and its 5-gram tables are not in this container; the bigram form keeps
every step an exact, oracle-reproducible relational computation while
exercising the identical scale shape — a corpus-sized token stream
joined against a vocabulary-sized model).

Scale shape:

* **Training** (``train_bigram_lm``) is two groupBys over the token
  stream: vocabulary selection (top-V by count, deterministic
  ``(count DESC, word ASC)`` tie-break) and bigram counting after
  OOV->``<unk>`` mapping.  Both shuffles move short strings + longs;
  partial aggregation applies.  The MODEL is vocabulary-scale
  (≤ V² rows, in practice O(observed bigrams)) — orders of magnitude
  below the corpus.
* **Scoring** (``perplexity``) never shuffles the corpus until the
  final per-doc aggregation: bigram pairs are built NARROWLY from the
  per-row token array (``arrays_zip`` of two slices — no window, no
  per-token explode-then-lead), then the exploded pair stream left
  joins the vocab (×2, OOV mapping) and the model.  All three joins
  are UNHINTED: the build sides are vocabulary-scale and AQE picks
  broadcast at runtime when they measure small — a forced hint would
  override the threshold for a user-supplied V (CLAUDE.md regime).
* Unseen bigrams back off exactly to the smoothed floor
  ``alpha / (c(w1) + alpha·V)`` via the per-context denominator table —
  no row in the bigram table is needed for them, so the model stays
  sparse.

Semantics (pinned by the pure-Python oracle in tests/test_lmfilter.py):
tokens = ``normalize_doc`` (lower, whitespace-squeeze) split on " ";
P(w2|w1) = (c(w1,w2) + alpha) / (c(w1) + alpha·V) where c(w1) is the
bigram-context count (Σ_w2 c(w1,w2)) and V = |vocab| + 1 (``<unk>``
included), so P sums to 1 over the mapped vocabulary; doc score =
mean of -log P over its bigrams (natural log); docs with < 2 tokens
have no bigrams -> NULL score, dropped by ``perplexity_filter``
(flagged, never silently kept).
"""

from __future__ import annotations

from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint
from .dedup import normalize_doc

UNK = "<unk>"


class BigramLM(NamedTuple):
    """A trained bigram model: three vocabulary-scale DataFrames.

    vocab:    (word)                — the top-V closed vocabulary
    contexts: (w1, c1)              — bigram-context counts Σ_w2 c(w1,w2)
    bigrams:  (w1, w2, c12)         — observed bigram counts
    plus the smoothing constants baked in at train time.
    """

    vocab: DataFrame
    contexts: DataFrame
    bigrams: DataFrame
    alpha: float
    v: int  # |vocab| + 1 (<unk>)
    # plan-literal membership set (filled by train_bigram_lm for
    # bounded vocabularies): lets the OOV mapping run as an InSet
    # projection instead of two broadcast joins per pass.  None => the
    # join form (arbitrary external vocab tables).
    words: tuple | None = None


def _token_stream(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    toks = F.split(normalize_doc(F.col(text_col)), " ")
    return docs.select(F.col(id_col).alias("_doc"), toks.alias("_toks")).filter(
        F.col("_toks")[0] != ""
    )


def _bigram_pairs(with_toks: DataFrame) -> DataFrame:
    """(_doc, _toks) -> exploded (_doc, w1, w2): pairs built narrowly
    from the array (two slices zipped), no window/lead shuffle."""
    n = F.size("_toks")
    pairs = F.arrays_zip(
        F.slice("_toks", 1, n - 1).alias("w1"),
        F.slice("_toks", 2, n - 1).alias("w2"),
    )
    return (
        with_toks.filter(n >= 2)
        .select("_doc", F.explode(pairs).alias("_p"))
        .select("_doc", F.col("_p.w1").alias("w1"), F.col("_p.w2").alias("w2"))
    )


def train_bigram_lm(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    vocab_size: int = 4096,
    alpha: float = 0.1,
) -> BigramLM:
    """Fit the add-alpha bigram model on ``docs`` (see module docstring).

    Returns vocabulary-scale tables only; nothing corpus-sized is
    retained.  The vocab/context/bigram tables are small enough to
    persist for reuse across scoring runs — callers scoring multiple
    corpora against one model should ``.persist()`` them.
    """
    stream = _token_stream(docs, id_col, text_col)
    words = stream.select(F.explode("_toks").alias("word"))
    # the vocab is embedded in EVERY downstream consumer (the two unk
    # joins at train time, two more per scoring pass, |V|); without
    # materialization each subtree re-runs the corpus-wide word count +
    # sort-limit — checkpoint the 4096-row table once
    vocab = checkpoint(
        words.groupBy("word")
        .agg(F.count("*").alias("_c"))
        .orderBy(F.col("_c").desc(), F.col("word").asc())
        .limit(int(vocab_size))
        .select("word")
    )
    # the vocab is checkpointed and vocabulary-scale by construction —
    # collect it once so every unk-mapping pass (the train-time bigram
    # count below AND every scoring pass) is a join-free InSet
    # projection (bounded: past 64k words the plan-literal would bloat
    # the plan, fall back to the join form)
    word_rows = vocab.collect()
    n_vocab = len(word_rows)
    wl = tuple(r.word for r in word_rows) if n_vocab <= 65536 else None
    # OOV->unk BEFORE counting so the model covers exactly the mapped space
    pairs = _map_unk(_bigram_pairs(stream), vocab, wl)
    # one corpus aggregation: the context counts are a vocabulary-scale
    # rollup of the bigram table (c1 = Σ_w2 c12 by definition), not a
    # second pass over the exploded pair stream
    bigrams = checkpoint(
        pairs.groupBy("w1", "w2").agg(F.count("*").cast("long").alias("c12"))
    )
    contexts = bigrams.groupBy("w1").agg(F.sum("c12").alias("c1"))
    return BigramLM(vocab, contexts, bigrams, float(alpha), int(n_vocab) + 1, wl)


def _map_unk(
    pairs: DataFrame, vocab: DataFrame, words: tuple | None = None
) -> DataFrame:
    """OOV mapping on the exploded pair stream.  With ``words`` (a
    bounded plan-literal vocabulary) membership is an InSet hash lookup
    in the same projection — NO joins; otherwise two UNHINTED left
    joins against the vocab table (AQE broadcasts when it measures
    small)."""
    if words is not None:
        def _m(c):
            return F.when(F.col(c).isin(*words), F.col(c)).otherwise(UNK).alias(c)

        return pairs.select("_doc", _m("w1"), _m("w2"))
    v1 = vocab.select(F.col("word").alias("w1"), F.lit(True).alias("_in1"))
    v2 = vocab.select(F.col("word").alias("w2"), F.lit(True).alias("_in2"))
    return (
        pairs.join(v1, "w1", "left")
        .join(v2, "w2", "left")
        .select(
            "_doc",
            F.when(F.col("_in1").isNotNull(), F.col("w1")).otherwise(UNK).alias("w1"),
            F.when(F.col("_in2").isNotNull(), F.col("w2")).otherwise(UNK).alias("w2"),
        )
    )


def perplexity(
    docs: DataFrame,
    lm: BigramLM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Score ``docs`` -> (id, n_bigrams, avg_nll, ppl).

    avg_nll = mean of -ln P(w2|w1) over the doc's bigrams; ppl =
    exp(avg_nll).  Docs with < 2 tokens get n_bigrams = 0 and NULL
    scores.  One corpus scan; the only corpus-sized shuffle is the
    final per-doc aggregation (partial-aggregated).
    """
    stream = _token_stream(docs, id_col, text_col)
    pairs = _map_unk(_bigram_pairs(stream), lm.vocab, getattr(lm, "words", None))
    scored = (
        pairs.join(lm.contexts, "w1", "left")
        .join(lm.bigrams, ["w1", "w2"], "left")
        .select(
            "_doc",
            (
                -F.log(
                    (F.coalesce(F.col("c12"), F.lit(0)) + F.lit(lm.alpha))
                    / (F.coalesce(F.col("c1"), F.lit(0)) + F.lit(lm.alpha * lm.v))
                )
            ).alias("_nll"),
        )
    )
    per_doc = scored.groupBy("_doc").agg(
        F.count("*").cast("long").alias("n_bigrams"),
        F.avg("_nll").alias("avg_nll"),
    )
    # re-attach zero-bigram docs (scored side never saw them); ids are
    # assumed unique per row (the pages/documents invariant) — no
    # distinct, so this adds no corpus shuffle beyond the join itself
    ids = docs.select(F.col(id_col).alias("_doc"))
    return (
        ids.join(per_doc, "_doc", "left")
        .select(
            F.col("_doc").alias(id_col),
            F.coalesce(F.col("n_bigrams"), F.lit(0)).alias("n_bigrams"),
            F.col("avg_nll"),
            F.exp("avg_nll").alias("ppl"),
        )
    )


def perplexity_filter(
    docs: DataFrame,
    lm: BigramLM,
    max_ppl: float,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Keep docs whose bigram perplexity is ≤ ``max_ppl``.

    Scoreless docs (< 2 tokens -> NULL ppl) are DROPPED — an unscorable
    page is not evidence of quality (CCNet stance); callers that want
    them keep the `perplexity` output and decide.  Returns the original
    columns plus ``ppl``.

    ``docs`` is read twice (the scoring explode and the rejoin side), so
    it is checkpointed first; a leaf input (a parquet read or a
    completed checkpoint) comes back unchanged.
    """
    docs = checkpoint(docs)
    scores = perplexity(docs, lm, id_col, text_col).select(id_col, "ppl")
    return docs.join(scores, id_col, "inner").filter(F.col("ppl") <= F.lit(max_ppl))
