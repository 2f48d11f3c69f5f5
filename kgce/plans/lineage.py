"""Per-partition checkpointed lineage + resume (BASELINE.json:6,14).

Every stage run is split into ``n_buckets`` deterministic buckets
(``pmod(xxhash64(key), n_buckets)``).  Each bucket's output is written to
``<work_dir>/<stage>/data/bucket=<b>/`` and acknowledged by a manifest row
``(stage, bucket, input_hash, row_count, wall_ms, status)``
(:data:`kgce.schemas.STAGE_MANIFEST`) appended to
``<work_dir>/<stage>/_manifest/``.  The manifest is driver-side
metadata: the driver appends it and reads it back with pyarrow, one
small parquet file per append, so no Spark job (and no Hadoop
``chmod`` fork per created file) is spent on it.  A re-run skips the
buckets the manifest marks done, so a job killed mid-stage resumes
where it stopped and produces byte-identical output.

A config fingerprint is stored alongside; resuming with a different stage
configuration aborts — mirroring the reference's label2idx compatibility
check on resume (/root/reference/src/transformer_ner/task.py:561-571).

The wall-clock used for ``wall_ms`` is metrics-only; it never influences
data content (determinism invariant).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Callable
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import IntegerType, StructField, StructType

from .. import schemas

_MANIFEST_ARROW = to_arrow_schema(schemas.STAGE_MANIFEST)


class StageConfigMismatch(RuntimeError):
    pass


def frame_fingerprint(df: DataFrame) -> list[int]:
    """[row_count, content_hash] resume fingerprint of a (small) frame,
    such as an eval set.

    XOR over plain row hashes cancels duplicate rows (x ^ x = 0), so two
    different eval sets whose delta is a duplicated PAIR would collide
    (ADVICE r3) — and a resumed run would silently reuse a stale cached
    clean stage, the exact leakage decontamination exists to prevent.
    Folding each distinct row's MULTIPLICITY into the hashed value makes
    duplicates non-cancelling: adding a second copy of row r changes
    xxhash64(r, 1) to xxhash64(r, 2), a different contribution.  One
    groupBy over the frame; order-independent via bit_xor.
    """
    cols = [F.col(c) for c in df.columns]
    fp = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("_kgce_mult"))
        .agg(
            F.sum("_kgce_mult").alias("n"),
            F.coalesce(
                F.bit_xor(F.xxhash64(*cols, F.col("_kgce_mult"))), F.lit(0)
            ).alias("h"),
        )
        .first()
    )
    return [int(fp.n or 0), int(fp.h)]


class StageRunner:
    def __init__(self, spark: SparkSession, work_dir: str, n_buckets: int = 8):
        self.spark = spark
        self.work_dir = Path(work_dir)
        self.n_buckets = n_buckets

    def _paths(self, stage: str) -> tuple[Path, Path, Path]:
        root = self.work_dir / stage
        return root, root / "data", root / "_manifest"

    def _pin_config(self, stage: str, config: dict) -> None:
        """Write the stage's config on first run; on resume, abort if it
        changed.  A DataFrame value (e.g. clean_pages' ``eval_docs``) is
        pinned by its :func:`frame_fingerprint` under ``<key>_fingerprint``."""
        root, _, _ = self._paths(stage)
        root.mkdir(parents=True, exist_ok=True)
        pinned = {}
        for k, v in config.items():
            if isinstance(v, DataFrame):
                pinned[f"{k}_fingerprint"] = frame_fingerprint(v)
            else:
                pinned[k] = v
        cfg_file = root / "config.json"
        cfg_json = json.dumps(pinned, sort_keys=True)
        if cfg_file.exists():
            if cfg_file.read_text() != cfg_json:
                raise StageConfigMismatch(
                    f"stage '{stage}' resume config mismatch; clear {root} or fix config"
                )
        else:
            cfg_file.write_text(cfg_json)

    def completed_buckets(self, stage: str) -> set[int]:
        """Buckets the stage's manifest marks done, read on the driver
        (pyarrow skips ``_SUCCESS``, ``.crc`` and unfinished appends)."""
        _, _, mdir = self._paths(stage)
        if not any(mdir.glob("*.parquet")):
            return set()
        t = pq.read_table(mdir, columns=["bucket", "status"], schema=_MANIFEST_ARROW)
        return {r["bucket"] for r in t.to_pylist() if r["status"] == "done"}

    def _record(self, mdir: Path, rows: list[tuple]) -> None:
        """Append manifest rows: the acknowledgement that a bucket (or a
        global stage, bucket -1) is done.  The driver writes one parquet
        file under a hidden name and renames it into place, so a killed
        run leaves no visible partial file: Spark and pyarrow both skip
        names that start with ``.`` or ``_``."""
        mdir.mkdir(parents=True, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.parquet"
        tmp = mdir / f".{name}.tmp"
        table = pa.Table.from_pylist(
            [dict(zip(_MANIFEST_ARROW.names, r)) for r in rows], schema=_MANIFEST_ARROW
        )
        pq.write_table(table, tmp)
        os.replace(tmp, mdir / name)

    def run(
        self,
        stage: str,
        input_df: DataFrame,
        transform: Callable[[DataFrame], DataFrame],
        key: str = "url",
        config: dict | None = None,
        max_buckets_per_job: int | None = None,
    ) -> DataFrame:
        """Run (or resume) a stage; returns the stage's full output DataFrame.

        Missing buckets are processed in WAVES of ``max_buckets_per_job``
        (default: all missing buckets in one wave).  Each wave is ONE
        Spark job — the wave's output is written with
        ``partitionBy('bucket')`` under dynamic partition overwrite, so
        the raw input is scanned once per wave instead of once per bucket
        (the round-1 plan was ~3 scans x n_buckets), and the write counts
        its own rows per bucket (an :class:`Observation`), so written
        buckets are never read back.  One auxiliary pass per wave
        remains, a key-column-pruned groupBy for the per-bucket input
        hash.  It stays a collect: an Observation on the input side runs
        in a shuffle-map stage, where a re-run task's update can apply
        twice, and a twice-applied ``bit_xor`` cancels itself.  Failure
        granularity = wave: a killed run resumes at its last completed
        wave's manifest.  Pass ``max_buckets_per_job=1`` to recover
        per-bucket granularity when transform cost dominates scan cost.

        Requires ``key`` to survive ``transform`` (true for every kgce
        stage — mentions/pairs keep ``url``): the written buckets are
        computed from it, so a transform that drops it raises
        ``ValueError``.

        The returned frame reads the stage directory back with the
        schema in a written file's footer (see :meth:`_read_back`).
        """
        _, ddir, mdir = self._paths(stage)
        self._pin_config(stage, {"n_buckets": self.n_buckets, "key": key, **(config or {})})

        done = self.completed_buckets(stage)
        missing = [b for b in range(self.n_buckets) if b not in done]
        wave_size = max_buckets_per_job or max(len(missing), 1)
        bucket_col = F.pmod(F.xxhash64(F.col(key)), F.lit(self.n_buckets)).cast("int")
        bucketed = input_df.withColumn("_bucket", bucket_col)

        for w in range(0, len(missing), wave_size):
            wave = missing[w : w + wave_size]
            t0 = time.monotonic()
            part = bucketed.filter(F.col("_bucket").isin(wave))
            out = transform(part.drop("_bucket"))
            if key not in out.columns:
                raise ValueError(
                    f"stage {stage!r}: transform dropped the bucket key {key!r}"
                )
            # one job writes every wave bucket and counts its rows per bucket
            obs = Observation()
            (
                out.withColumn("bucket", bucket_col)
                .observe(obs, *[F.count_if(F.col("bucket") == b).alias(str(b)) for b in wave])
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(str(ddir))
            )
            counts = obs.get
            # per-bucket input hash: ONE key-column-pruned scan per wave
            hashes = {
                r._bucket: r.h
                for r in part.groupBy("_bucket")
                .agg(F.coalesce(F.bit_xor(F.xxhash64(F.col(key))), F.lit(0)).alias("h"))
                .collect()
            }
            wall_ms = int((time.monotonic() - t0) * 1000)  # wave wall, per bucket
            self._record(mdir, [
                (stage, b, format(hashes.get(b, 0) & (2**64 - 1), "016x"), counts[str(b)],
                 wall_ms, "done")
                for b in wave
            ])
        return self._read_back(ddir, StructField("bucket", IntegerType()))

    def run_global(
        self,
        stage: str,
        build: Callable[[], DataFrame],
        config: dict | None = None,
    ) -> DataFrame:
        """Cache a GLOBAL (non-bucketable) stage: compute once, land the
        result as parquet, skip on resume — the reference's feature-cache
        pattern (S7, transformer_biaffine_ner/data_utils.py:332-344)
        applied to stages whose shuffle crosses any bucketing (e.g.
        entity canonicalization: LSH pairs span buckets, so per-bucket
        checkpointing would silently drop cross-bucket links).  Resume
        granularity is all-or-nothing for such stages by construction.

        Both a fresh and a skipped run read the output back with
        :meth:`_read_back`, so a skipped run never calls ``build()``.
        """
        _, ddir, mdir = self._paths(stage)
        self._pin_config(stage, {"global": True, **(config or {})})
        if (ddir / "_SUCCESS").exists():
            return self._read_back(ddir)
        t0 = time.monotonic()
        obs = Observation()
        build().observe(obs, F.count("*").alias("n")).write.mode("overwrite").parquet(str(ddir))
        wall_ms = int((time.monotonic() - t0) * 1000)
        self._record(mdir, [(stage, -1, "", obs.get["n"], wall_ms, "done")])
        return self._read_back(ddir)

    def _read_back(self, ddir: Path, *partitions: StructField) -> DataFrame:
        """Read a stage's written output.  The schema is the one Spark
        stored in the footer of a written file, plus the ``partitions``
        columns: Spark's own inference reads that same footer, but in a
        Spark job of its own (and a user schema is made nullable the way
        inference makes it).  With no file written there is no footer:
        the read infers, and Spark refuses an empty directory."""
        footer = next(ddir.glob("**/*.parquet"), None)
        if footer is None:
            return self.spark.read.parquet(str(ddir))
        stored = pq.read_schema(footer).metadata[b"org.apache.spark.sql.parquet.row.metadata"]
        schema = StructType.fromJson(json.loads(stored))
        return self.spark.read.schema(StructType(schema.fields + list(partitions))).parquet(
            str(ddir)
        )

    def manifest(self, stage: str) -> DataFrame:
        """The stage's manifest rows as a Spark frame (its callers join
        and window over it); :meth:`completed_buckets` reads without Spark."""
        _, _, mdir = self._paths(stage)
        return self.spark.read.schema(schemas.STAGE_MANIFEST).parquet(str(mdir))


def keep_latest_n(manifest_df: DataFrame, n: int, order_col: str = "wall_ms") -> DataFrame:
    """K5/W6 retention pattern (reference checkpoint GC, task.py:146-151):
    newest N by a monotonic column; the complement is the GC set.
    Manifests are one row per bucket per attempt — bounded, so the
    global window is safe (tiny_global_window docstring)."""
    from .partitioning import tiny_global_window

    w = tiny_global_window(F.desc(order_col))
    return (
        manifest_df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= n)
        .drop("_rk")
    )
