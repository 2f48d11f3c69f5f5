"""The workloads' jobs and the checks on their outputs.

Each workload object runs one pass of its job through kgce's public
entry points (``pipeline.run``, ``pipeline.run_checkpointed``) into a
fresh output directory, and checks that pass's output.  Nothing is
released between passes.
"""

from __future__ import annotations

import inspect
from collections import Counter
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from kgce import oracle, pipeline
from kgce.operators import textstats
from kgce.plans import materialize

from inputs import Inputs

# the oracle gate of the paper: triple precision and recall
MIN_PR = 0.95


class CheckFailed(Exception):
    pass


def fingerprint(df: DataFrame) -> tuple[int, int]:
    """(row count, bit_xor of xxhash64 over every column): order-free, so
    two tables with the same rows agree however they were partitioned.
    Array columns are sorted first (collect_set order is not stable)."""
    cols = [
        F.array_sort(F.col(f.name)) if isinstance(f.dataType, T.ArrayType) else F.col(f.name)
        for f in sorted(df.schema.fields, key=lambda f: f.name)
    ]
    r = df.agg(
        F.count(F.lit(1)).alias("n"), F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0)).alias("h")
    ).first()
    return int(r.n), int(r.h)


def dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in Path(path).rglob("*") if f.is_file())


def exchanges(*dfs: DataFrame) -> int:
    """Shuffle Exchange operators in the physical plans of ``dfs``."""
    n = 0
    for df in dfs:
        plan = df._jdf.queryExecution().executedPlan().toString()
        n += sum(1 for line in plan.splitlines() if line.lstrip(" :+-").startswith("Exchange "))
    return n


def oracle_triples(inputs: Inputs, repetition_filter: bool) -> Counter:
    """(subj_text, pred, obj_text) -> count over the expected pages,
    dropping those the hygiene pass's repetition filter rejects."""
    if repetition_filter:
        # the filter's Python twin (tests/test_dedup_textstats.py holds it
        # decision-equal to the Spark form) at the thresholds clean_pages
        # uses, repetition_filter's defaults
        params = inspect.signature(textstats.repetition_filter).parameters
        limits = [params[k].default for k in
                  ("max_dup_word", "max_dup_line", "max_top2gram", "max_top3gram")]
        pages = [o for c, o in inputs.expected if textstats._py_repetition_keep(c, *limits)]
    else:
        pages = [o for _, o in inputs.expected]
    want: Counter = Counter()
    for text in pages:
        for t in oracle.page_triples(text):
            want[(t["subj_text"], t["pred"], t["obj_text"])] += 1
    return want


def _check_pr(edges: DataFrame, want: Counter) -> dict:
    got: Counter = Counter()
    for r in edges.select("subj_text", "pred", "obj_text", "n_evidence").collect():
        got[(r.subj_text, r.pred, r.obj_text)] += r.n_evidence
    tp = sum((got & want).values())
    p, r = tp / max(sum(got.values()), 1), tp / max(sum(want.values()), 1)
    if p < MIN_PR or r < MIN_PR:
        raise CheckFailed(f"triple P/R {p:.4f}/{r:.4f} against the oracle is below {MIN_PR}")
    return {"precision": p, "recall": r}


class Workload:
    """One pass = ``job(tag)`` into ``out_dir(tag)``; ``check(tag)``
    verifies that pass's output and returns its counters."""

    repetition_filter = False  # does the job run clean_pages' repetition filter?

    def __init__(self, spark: SparkSession, inputs: Inputs, work: Path):
        self.spark, self.inputs, self.work = spark, inputs, work
        self.pages = spark.read.parquet(str(inputs.pages))
        self.result: dict | None = None  # the last pass's DataFrames
        self.reference: dict | None = None  # the first checked pass's fingerprints

    def out_dir(self, tag) -> Path:
        return self.work / f"out-{tag}"

    def check(self, tag) -> dict:
        """The nodes and edges tables equal the first pass's; the first
        pass's edges also meet the oracle gate."""
        d = self.out_dir(tag)
        tables = {t: self.spark.read.parquet(str(d / t)) for t in ("nodes", "edges")}
        fp = {t: fingerprint(df) for t, df in tables.items()}
        extra = {}
        if self.reference is None:
            extra = _check_pr(tables["edges"], oracle_triples(self.inputs, self.repetition_filter))
            self.reference = fp
        elif fp != self.reference:
            raise CheckFailed(f"output {fp} differs from the first pass's {self.reference}")
        return {"nodes": fp["nodes"][0], "edges": fp["edges"][0], "bytes_written": dir_bytes(d),
                **extra}

    def plan_exchanges(self) -> int:
        return exchanges(self.result["nodes"], self.result["edges"])


class CrawlBatch(Workload):
    """``pipeline.run`` with the hygiene pass set as in ``pipeline_full``,
    then ``materialize.write_nodes``/``write_edges``."""

    repetition_filter = True

    def __init__(self, spark, inputs, work):
        super().__init__(spark, inputs, work)
        self.clean = {
            "canonical_urls": True,
            "exact_dedup": True,
            "repetition": True,
            "boilerplate_min_df": 3,
            "eval_docs": spark.read.parquet(str(inputs.eval_docs)),
            "decontam_n": 8,
        }

    def job(self, tag) -> None:
        self.result = pipeline.run(self.pages, clean=self.clean)
        materialize.write_nodes(self.result["nodes"], str(self.out_dir(tag)))
        materialize.write_edges(self.result["edges"], str(self.out_dir(tag)))


class CrawlResume(Workload):
    """``run_checkpointed`` with salted hot domains into an empty work
    directory (the job), then the same call on the completed directory
    (the resume, timed apart and checked like a pass)."""

    def job(self, tag) -> None:
        self.result = pipeline.run_checkpointed(
            self.pages, str(self.out_dir(tag)), salt_hot_domains=True
        )

    def resume(self, tag) -> None:
        pipeline.run_checkpointed(self.pages, str(self.out_dir(tag)), salt_hot_domains=True)


WORKLOADS = {"crawl_batch": CrawlBatch, "crawl_resume": CrawlResume}
