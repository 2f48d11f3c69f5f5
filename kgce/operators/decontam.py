"""Test-set decontamination: flag training documents that share word
n-grams with an evaluation set.

The standard pretraining-hygiene pass (GPT-3 appendix C / Llama-style
"n-gram overlap" decontamination): any training document containing an
n-gram that also occurs in a benchmark/eval document is flagged (and
usually dropped) so downstream eval numbers are not inflated by leakage.
The reference engine has no counterpart — this is one of the
beyond-reference training-data operators the task brief calls for.

Scale shape (the part that matters at 100 TB):

* the EVAL side is small by construction (benchmarks are thousands of
  documents, not billions) — its distinct n-gram set is collected into a
  broadcast hash relation, so the training corpus is matched with a
  broadcast semi-join inside one narrow scan: NO shuffle of corpus
  shingles, no inverted-index self-join (contrast ngram_jaccard_pairs,
  which answers the all-pairs question and must shuffle).
* per-doc hit counting is a groupBy on doc_id over only the MATCHING
  (doc_id, shingle) rows — corpus-proportional work ends at the map side.
* shingling reuses dedup.word_shingles (distinct word n-grams), so the
  DuckDB oracle twin shares the exact fragment already proven for
  ngram_jaccard.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..plans.stage import checkpoint
from .dedup import word_shingles


def eval_ngram_set(
    eval_docs: DataFrame, n: int = 8, text_col: str = "text"
) -> DataFrame:
    """Distinct word n-grams of the evaluation set (one column ``g``).
    Small by construction — the caller broadcasts it."""
    return (
        eval_docs.select(F.explode(word_shingles(F.col(text_col), n)).alias("g"))
        .distinct()
    )


def ngram_hits(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, n_hits): how many DISTINCT eval n-grams each training
    document contains.  Docs with zero hits are absent (join semantics);
    use :func:`decontaminate` for the flagged full corpus."""
    grams = eval_ngram_set(eval_docs, n, text_col)
    sh = train.select(
        F.col(id_col).alias("doc_id"),
        F.explode(word_shingles(F.col(text_col), n)).alias("g"),
    )
    # per-doc shingles are distinct (word_shingles) and the eval set is
    # distinct, so the inner join emits each (doc, gram) match once:
    # count(*) IS the distinct-hit count — no countDistinct buffer needed
    return (
        sh.join(F.broadcast(grams), "g")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_hits"))
    )


def decontaminate(
    train: DataFrame,
    eval_docs: DataFrame,
    n: int = 8,
    min_hits: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Training corpus with ``n_hits`` and a ``contaminated`` flag
    (n_hits >= min_hits); callers filter on it.  ``min_hits`` > 1
    tolerates incidental single-n-gram collisions (common phrases) while
    still catching verbatim leakage.

    ``train`` is read twice (the shingle hit count and the flag rejoin),
    so it is checkpointed first; a leaf input (a parquet read or a
    completed checkpoint) comes back unchanged."""
    train = checkpoint(train)
    hits = ngram_hits(train, eval_docs, n, id_col, text_col)
    return (
        train.join(hits, train[id_col] == hits.doc_id, "left")
        .drop(hits.doc_id)
        .withColumn("n_hits", F.coalesce(F.col("n_hits"), F.lit(0)))
        .withColumn("contaminated", F.col("n_hits") >= min_hits)
    )
