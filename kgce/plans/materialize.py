"""K6: node/edge table materialization.

Target is Iceberg (``df.writeTo(table).using('iceberg')`` with MERGE-style
idempotent upserts); without the Iceberg runtime jar the writer falls
back to a flat parquet overwrite, unpartitioned like the Iceberg
branch.  The ``bucket`` column stays in the table but names no
directory: Hadoop's local file system forks a ``chmod`` for each file
and directory it creates, and 32 bucket directories per table would
cost ~100 of them (plus a shuffle and a sort on ``bucket``) for a few
hundred KB.  Writes are keyed on natural keys so re-running a completed
stage is idempotent.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _iceberg_available(spark: SparkSession) -> bool:
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.spark.SparkCatalog")
        return True
    except Exception:
        return False


def write_nodes(nodes: DataFrame, out_dir: str, table: str = "kg.nodes") -> None:
    spark = nodes.sparkSession
    if _iceberg_available(spark):  # pragma: no cover - no iceberg jar in sandbox
        nodes.writeTo(table).using("iceberg").createOrReplace()
        return
    nodes.write.mode("overwrite").parquet(str(Path(out_dir) / "nodes"))


def write_edges(edges: DataFrame, out_dir: str, table: str = "kg.edges") -> None:
    spark = edges.sparkSession
    if _iceberg_available(spark):  # pragma: no cover
        edges.writeTo(table).using("iceberg").createOrReplace()
        return
    edges.write.mode("overwrite").parquet(str(Path(out_dir) / "edges"))


_SWAP_READY = "_swap_ready"


def _staging_of(p: Path) -> Path:
    return p.with_name(p.name + "__staging")


def _old_of(p: Path) -> Path:
    return p.with_name(p.name + "__old")


def _recover_interrupted_swap(p: Path) -> None:
    """Make the table directory consistent before deciding a merge path.

    The swap is two renames (p -> __old, __staging -> p); a crash can
    strand the table in between.  ``_swap_ready`` is touched as the LAST
    staging step, so its presence proves the staged table (data AND
    epoch markers) is complete:

    * p exists            -> any __staging/__old is a stale leftover: drop.
    * p missing, staged complete -> roll FORWARD (finish the rename).
    * p missing, __old exists    -> roll BACK (restore the old table,
      drop the incomplete staging).
    * neither             -> genuinely no table yet (drop partial staging).

    Without this, a crash between the two renames made the replayed
    epoch see 'no table' and rewrite only its own batch — silently
    abandoning the accumulated history in __old.
    """
    import shutil

    staging, old = _staging_of(p), _old_of(p)
    if p.exists():
        for stale in (staging, old):
            if stale.exists():
                shutil.rmtree(stale)
        (p / _SWAP_READY).unlink(missing_ok=True)
        return
    if (staging / _SWAP_READY).exists():
        staging.rename(p)
        (p / _SWAP_READY).unlink(missing_ok=True)
        if old.exists():
            shutil.rmtree(old)
        return
    if old.exists():
        if staging.exists():
            shutil.rmtree(staging)
        old.rename(p)
        return
    if staging.exists():
        shutil.rmtree(staging)


def _commit_staging(p: Path, staging: Path) -> None:
    """Atomically (crash-recoverably) promote a fully-written staging
    directory to ``p``: mark it complete, then swap.  Any crash inside
    this sequence is repaired by _recover_interrupted_swap — roll-forward
    once ``_swap_ready`` exists, roll-back before that."""
    import shutil

    (staging / _SWAP_READY).touch()
    old = _old_of(p)
    if old.exists():
        shutil.rmtree(old)
    if p.exists():
        p.rename(old)
    staging.rename(p)
    (p / _SWAP_READY).unlink(missing_ok=True)
    if old.exists():
        shutil.rmtree(old)


def upsert_parquet(updates: DataFrame, path: str, keys: list[str]) -> None:
    """Iceberg-MERGE analog for the parquet fallback (K6: 'MERGE-style
    idempotent upserts'): rows whose natural key appears in ``updates``
    are replaced, all other existing rows are kept, and re-running the
    same updates is a no-op.  On Iceberg this is
    ``MERGE INTO t USING u ON <keys> WHEN MATCHED THEN UPDATE ...``;
    here it is an anti-join + union + atomic directory swap (write to
    ``_staging``, rename over the old dir) so readers never observe a
    partial table.

    Incremental-crawl shape at 100 TB: ``updates`` is one crawl
    increment, orders of magnitude smaller than the table — the anti-join
    broadcasts the update KEYS, so the rewrite cost is one pass over the
    existing table (Iceberg proper avoids even that via metadata-level
    row-group skipping; this fallback keeps the same semantics).
    """
    spark = updates.sparkSession
    p = Path(path)
    _recover_interrupted_swap(p)
    if not p.exists():
        out = updates
    else:
        existing = spark.read.parquet(str(p))
        kept = existing.join(
            F.broadcast(updates.select(*keys).distinct()), list(keys), "left_anti"
        )
        out = kept.unionByName(updates.select(*existing.columns))
    staging = _staging_of(p)
    out.write.mode("overwrite").parquet(str(staging))
    _commit_staging(p, staging)


TRIPLE_KEYS = ["subj_text", "pred", "obj_text", "subj_type", "obj_type"]


def _rollup_with_evidence(u: DataFrame, k: int) -> DataFrame:
    """Re-aggregate a union of evidence-carrying triple frames
    (triples.aggregate_triples_with_evidence schema): n_evidence sums,
    confidence maxes, and the bounded ``evidence`` lists merge into the
    top-``k`` (url, confidence) pairs of the union — per-url max
    confidence, ranked (confidence desc, url).

    Single pass, same 2-exchange shape as the batch aggregation: the
    structs explode, a (key, url) partial-agg collapses duplicates
    (row-level n_evidence/confidence attributed once via the head
    element so nothing double-counts), then the top-k window and the
    final rollup share one key partitioning.

    Bounded-merge semantics, stated honestly: each increment keeps only
    its own top-k, so a url dropped in one increment re-enters later
    with an understated confidence.  Guarantees that DO hold: merged
    urls are always a subset of the true evidence urls; each merged
    confidence is a true (possibly stale) confidence for that url; the
    top-1 url and its confidence are EXACT (the strongest url is never
    dropped by the increment where it attains its max); and with
    k >= distinct urls per key the whole merge is exact.  Iceberg gets
    the same trade-off — bounded provenance is approximate under
    increments or unbounded, pick one; 10^12 pages picks bounded.
    """
    from pyspark.sql import Window

    e = u.select(
        *TRIPLE_KEYS,
        "n_evidence",
        "confidence",
        F.posexplode_outer("evidence").alias("_pos", "_ev"),
    )
    head = F.col("_pos").isNull() | (F.col("_pos") == 0)
    per_url = e.groupBy(*TRIPLE_KEYS, F.col("_ev.url").alias("_u")).agg(
        F.sum(F.when(head, F.col("n_evidence")).otherwise(F.lit(0))).alias("_n"),
        F.max(F.when(head, F.col("confidence"))).alias("_rowc"),
        F.max("_ev.confidence").alias("_c"),
    )
    w = Window.partitionBy(*TRIPLE_KEYS).orderBy(F.desc("_c"), "_u")
    ranked = per_url.withColumn("_rk", F.row_number().over(w))
    return ranked.groupBy(*TRIPLE_KEYS).agg(
        F.sum("_n").alias("n_evidence"),
        F.max("_rowc").alias("confidence"),
        F.transform(
            F.array_sort(
                F.collect_list(
                    F.when(
                        F.col("_u").isNotNull() & (F.col("_rk") <= k),
                        F.struct(
                            F.col("_rk").alias("rk"),
                            F.col("_u").alias("url"),
                            F.col("_c").alias("confidence"),
                        ),
                    )
                )
            ),
            lambda s: F.struct(
                s["url"].alias("url"), s["confidence"].alias("confidence")
            ),
        ).alias("evidence"),
    )


def merge_aggregated_triples(
    new_trips: DataFrame,
    path: str,
    epoch_id: int | None = None,
    provenance_k: int | None = None,
) -> None:
    """MERGE-with-aggregation analog for incremental KG maintenance: on
    Iceberg this is ``MERGE INTO edges e USING batch b ON <TRIPLE_KEYS>
    WHEN MATCHED THEN UPDATE SET n_evidence = e.n_evidence +
    b.n_evidence, confidence = greatest(e.confidence, b.confidence)
    WHEN NOT MATCHED THEN INSERT *`` — here, re-aggregation of the
    union (sum/max are ASSOCIATIVE, so any micro-batch partitioning of
    the corpus converges to the identical table) plus the same atomic
    directory swap as upsert_parquet.  With ``provenance_k`` (and an
    ``evidence`` column — triples.aggregate_triples_with_evidence), the
    bounded top-k (url, confidence) provenance lists merge too
    (:func:`_rollup_with_evidence` — see its docstring for the exact
    bounded-merge guarantees).

    Exactly-once under foreachBatch replays: an additive merge is NOT
    idempotent, so each merged ``epoch_id`` leaves an ``_epoch_<id>``
    marker INSIDE the staged table directory — marker and data swap in
    atomically together, so a replayed micro-batch either sees its
    marker (skip) or the pre-merge table (safe re-merge); there is no
    window where the data landed but the marker did not.  EVERY epoch
    (including the first) goes through the staging directory, and an
    interrupted swap is rolled forward/back on entry
    (_recover_interrupted_swap), so a crash at any rename boundary
    leaves either the pre-merge or the post-merge table — never a
    missing or double-counted one.  Underscore files are invisible to
    parquet readers.  Iceberg proper gets the same guarantee from
    single-snapshot commits.
    """
    spark = new_trips.sparkSession
    p = Path(path)
    _recover_interrupted_swap(p)
    marker = f"_epoch_{epoch_id}" if epoch_id is not None else None
    if marker and (p / marker).exists():
        return  # replayed micro-batch, already merged
    if not p.exists():
        merged = new_trips
    else:
        existing = spark.read.parquet(str(p))
        u = existing.unionByName(new_trips.select(*existing.columns))
        if provenance_k is not None and "evidence" in existing.columns:
            merged = _rollup_with_evidence(u, provenance_k).select(*existing.columns)
        else:
            merged = (
                u.groupBy(*TRIPLE_KEYS)
                .agg(
                    F.sum("n_evidence").alias("n_evidence"),
                    F.max("confidence").alias("confidence"),
                )
                .select(*existing.columns)
            )
    staging = _staging_of(p)
    merged.write.mode("overwrite").parquet(str(staging))
    if p.exists():
        for old_marker in p.glob("_epoch_*"):
            (staging / old_marker.name).touch()
    if marker:
        (staging / marker).touch()
    _commit_staging(p, staging)


def build_nodes(canon: DataFrame, mentions: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Node table: one row per canonical entity with mention statistics.

    Shape note: the heavy pass over the mention table is a pure
    count-groupBy with ONLY grouping keys as strings (HashAggregate with
    map-side partials); the dominant-type pick runs afterwards over the
    tiny distinct (norm, type) table.  ``first(<string>)`` aggregate
    buffers here would force a SortAggregate over every mention row —
    the round-1 perf defect this replaces.
    """
    from pyspark.sql import Window

    from ..operators.linking import normalize_text

    norm_mentions = mentions.select(normalize_text(F.col("text")).alias("norm"), "type")
    by_type = norm_mentions.groupBy("norm", "type").agg(F.count("*").alias("n"))
    totals = by_type.groupBy("norm").agg(F.sum("n").alias("n_mentions"))
    w = Window.partitionBy("norm").orderBy(F.desc("n"), "type")
    dominant = (
        by_type.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") == 1)
        .select("norm", "type")
    )
    stats = totals.join(dominant, "norm")
    return (
        canon.join(stats, "norm", "left")
        .groupBy("canonical_id")
        .agg(
            # collect_set makes this an ObjectHashAggregate, which carries
            # the string-buffered min/max_by along without a sort
            F.min("norm").alias("canonical_text"),
            F.collect_set("norm").alias("aliases"),
            F.sum(F.coalesce("n_mentions", F.lit(0))).alias("n_mentions"),
            # the type of the most-mentioned surface form, ties to the
            # smallest type name, so the pick does not depend on row
            # order (which changes with partitioning)
            F.min(
                F.struct(-F.coalesce("n_mentions", F.lit(0)), F.col("type").alias("t"))
            )["t"].alias("type"),
        )
        .withColumn("bucket", F.pmod(F.col("canonical_id"), F.lit(n_buckets)).cast("int"))
    )


def build_edges(triples_canonical: DataFrame, n_buckets: int = 32) -> DataFrame:
    """Edge table projection; carries the bounded top-k ``evidence_urls``
    provenance column through when the pipeline ran with
    ``provenance_k`` (triples.aggregate_triples_with_provenance)."""
    cols = [
        "subj_id",
        "pred",
        "obj_id",
        "subj_text",
        "obj_text",
        "confidence",
        "n_evidence",
    ]
    if "evidence_urls" in triples_canonical.columns:
        cols.append("evidence_urls")
    return triples_canonical.select(*cols).withColumn(
        "bucket", F.pmod(F.col("subj_id"), F.lit(n_buckets)).cast("int")
    )
