"""The traced pass and the per-layer metrics (``--trace 1``).

Spans are recorded from outside the program: for the traced pass the
public functions of each layer are replaced by wrappers that open a span
(name, start, end, parent, run id), label the Spark jobs the call starts
with ``setJobDescription``, and materialize the DataFrame the call
returns (``localCheckpoint``), so that the layer's work runs inside its
own span instead of lazily in whichever later call first needs it.  The
wrappers are removed after the pass.

Spark's own counters come from an event log that only the traced run
enables.  Each job is charged to the innermost span open when it was
submitted, and each stage and task to the job that first lists the stage.
"""

from __future__ import annotations

import contextlib
import functools
import json
import statistics
import time
import traceback
from pathlib import Path

from pyspark.sql import DataFrame

from kgce import pipeline, tagging
from kgce.operators import linking
from kgce.operators import triples as triples_ops
from kgce.plans import materialize
from kgce.plans.lineage import StageRunner

from jobs import dir_bytes

PYTHON_TIME = "time to run Python workers"  # the MapInPandas SQL metric, in ms


class Tracer:
    """Spans kept in memory, in the order they were opened; ``parent`` is
    the index of the enclosing span."""

    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.time(),
            **attrs,
        }
        self._stack.append(len(self.spans))
        self.spans.append(rec)
        self.sc.setJobDescription(name)
        t0 = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = rec["start"] + (time.perf_counter() - t0)
            self._stack.pop()
            self.sc.setJobDescription(self.spans[self._stack[-1]]["name"] if self._stack else None)


def _materialized(tracer: Tracer, name: str, fn, count_input: bool = False):
    @functools.wraps(fn)
    def traced(*args, **kw):
        with tracer.span(name) as rec:
            out = fn(*args, **kw)
            if isinstance(out, DataFrame):
                out = out.localCheckpoint(eager=True)
        # counted after the pass (count_rows), outside every span
        rec["_frames"] = {"rows": out, **({"rows_in": args[0]} if count_input else {})}
        return out

    return traced


def count_rows(spans: list[dict]) -> None:
    """Row counts of the frames each span materialized (and of its input
    where asked), read once the traced pass is over."""
    for s in spans:
        for key, df in s.pop("_frames", {}).items():
            if isinstance(df, DataFrame):
                s[key] = df.count()
                if s["name"] == "linking.connected_components" and key == "rows":
                    s["components"] = df.select("component").distinct().count()


def _writer(tracer: Tracer, table: str, fn):
    @functools.wraps(fn)
    def traced(df, out_dir, *args, **kw):
        with tracer.span("materialize.write") as rec:
            fn(df, out_dir, *args, **kw)
        rec["bytes"] = dir_bytes(Path(out_dir) / table)

    return traced


def _done_buckets(manifest: Path) -> int:
    """Buckets a stage's manifest marks done, read without Spark."""
    import pyarrow.parquet as pq

    if not manifest.is_dir() or not any(manifest.glob("*.parquet")):
        return 0
    t = pq.read_table(manifest, columns=["bucket", "status"]).to_pylist()
    return len({r["bucket"] for r in t if r["status"] == "done"})


def _stage(tracer: Tracer, fn, bucketed: bool):
    @functools.wraps(fn)
    def traced(runner, stage, *args, **kw):
        skipped = _done_buckets(runner.work_dir / stage / "_manifest") if bucketed else 0
        with tracer.span(f"lineage.{stage}", buckets_skipped=skipped):
            return fn(runner, stage, *args, **kw)

    return traced


@contextlib.contextmanager
def installed(tracer: Tracer):
    """Replace each layer's public functions by traced wrappers."""
    targets = [
        (pipeline, "clean_pages", lambda f: _materialized(tracer, "clean_pages", f, True)),
        (tagging, "extract_mentions", lambda f: _materialized(tracer, "extract_mentions", f)),
        (linking, "minhash_signatures",
         lambda f: _materialized(tracer, "linking.vocab_minhash", f)),
        (linking, "verified_pairs", lambda f: _materialized(tracer, "linking.verified_pairs", f)),
        (linking, "connected_components",
         lambda f: _materialized(tracer, "linking.connected_components", f)),
        (triples_ops, "aggregate_triples",
         lambda f: _materialized(tracer, "triples.pairs_score_agg", f)),
        (materialize, "write_nodes", lambda f: _writer(tracer, "nodes", f)),
        (materialize, "write_edges", lambda f: _writer(tracer, "edges", f)),
        (StageRunner, "run", lambda f: _stage(tracer, f, bucketed=True)),
        (StageRunner, "run_global", lambda f: _stage(tracer, f, bucketed=False)),
    ]
    originals = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, wrap in targets:
            setattr(owner, attr, wrap(getattr(owner, attr)))
        yield
    finally:
        for owner, attr, fn in originals:
            setattr(owner, attr, fn)


def traced_pass(wl, tag, spark) -> dict | None:
    """The job (and, for crawl_resume, the resume) with every layer
    traced; the output is checked like any other pass's."""
    tracer = Tracer(spark, run_id=f"{type(wl).__name__}-{tag}")
    try:
        with installed(tracer):
            with tracer.span("job"):
                wl.job(tag)
            if hasattr(wl, "resume"):
                with tracer.span("resume"):
                    wl.resume(tag)
        count_rows(tracer.spans)
        wl.check(tag)
    except Exception:
        traceback.print_exc()
        return None
    return {"spans": tracer.spans}


# ---------------------------------------------------------------- event log


def _read_event_log(events_dir: Path) -> tuple[list, dict, dict]:
    """(jobs as (submit_ms, job_id, stage_ids), stage -> task list,
    stage -> first job)."""
    jobs, tasks, stage_job = [], {}, {}
    for path in sorted(events_dir.iterdir()):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs.append((ev["Submission Time"], ev["Job ID"], ev["Stage IDs"]))
                    for s in ev["Stage IDs"]:
                        stage_job.setdefault(s, ev["Job ID"])
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    tasks.setdefault(ev["Stage ID"], []).append(ev)
    return jobs, tasks, stage_job


def _innermost(spans: list[dict], t_ms: float) -> int | None:
    best = None
    for i, s in enumerate(spans):
        if s["start"] * 1000 <= t_ms <= s["end"] * 1000:
            if best is None or s["start"] >= spans[best]["start"]:
                best = i
    return best


def spark_counters(spans: list[dict], events_dir: Path) -> None:
    """Attach the Spark counters of its own jobs to every span."""
    jobs, tasks, stage_job = _read_event_log(events_dir)
    job_span = {job_id: _innermost(spans, t) for t, job_id, _ in jobs}
    for s in spans:
        s.update(spark_jobs=0, shuffle_stages=0, shuffle_write_bytes=0, spill_bytes=0,
                 executor_run_s=0.0, executor_cpu_s=0.0, python_worker_s=0.0, stages=[])
    for _, job_id, _ in jobs:
        if job_span[job_id] is not None:
            spans[job_span[job_id]]["spark_jobs"] += 1
    for stage, evs in tasks.items():
        i = job_span.get(stage_job.get(stage))
        if i is None:
            continue
        s = spans[i]
        shuffle = 0
        run_ms = []
        for ev in evs:
            m = ev["Task Metrics"]
            run_ms.append(m["Executor Run Time"])
            s["executor_cpu_s"] += m["Executor CPU Time"] / 1e9
            s["spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            shuffle += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            for acc in ev["Task Info"].get("Accumulables", []):
                if acc.get("Name") == PYTHON_TIME:
                    s["python_worker_s"] += float(acc["Update"]) / 1000
        s["executor_run_s"] += sum(run_ms) / 1000
        s["shuffle_write_bytes"] += shuffle
        s["shuffle_stages"] += shuffle > 0
        s["stages"].append(
            {"tasks": len(run_ms), "run_ms": sum(run_ms),
             "max_over_median": max(run_ms) / max(statistics.median(run_ms), 1)}
        )


# ---------------------------------------------------------------- metrics


def self_times(spans: list[dict]) -> list[float]:
    out = [s["end"] - s["start"] for s in spans]
    for s in spans:
        if s["parent"] is not None:
            out[s["parent"]] -= s["end"] - s["start"]
    return out


# Layers that one workload bypasses (clean_pages, lineage) report their
# share of the job's wall time, so the bypassing workload reads a ratio
# of 0 rather than a constant 0 s; the spans in the detail line carry
# every layer's seconds (self_s).
PER_LAYER = {
    "session.start_s": "s",
    "session.worker_warm_s": "s",
    "session.cold_pass_s": "s",
    "session.codegen_compiles": "count",
    "session.spark_jobs": "count",
    "session.persistent_rdds": "count",
    "session.jvm_jit_s": "s",
    "session.jvm_gc_s": "s",
    "session.peak_pss_mb": "MB",
    "clean_pages.share": "ratio",
    "clean_pages.rows_in": "count",
    "clean_pages.rows_out": "count",
    "extract_mentions.s": "s",
    "extract_mentions.rows": "count",
    "extract_mentions.python_worker_s": "s",
    "extract_mentions.tasks": "count",
    "linking.vocab_minhash.s": "s",
    "linking.verified_pairs.s": "s",
    "linking.edges": "count",
    "linking.connected_components.s": "s",
    "linking.components": "count",
    "triples.pairs_score_agg.s": "s",
    "triples.rows": "count",
    "materialize.write.s": "s",
    "materialize.bytes_written": "bytes",
    "lineage.stage_share": "ratio",
    "lineage.bytes_written": "bytes",
    "lineage.buckets_skipped": "count",
    "lineage.resume_share": "ratio",
    "skew.mention_task_max_over_median": "ratio",
    "spark.plan_exchanges": "count",
    "spark.shuffle_stages": "count",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "job.wall_s": "s",
    "trace.job_s": "s",
    "trace.overhead_s": "s",
    "trace.coverage": "ratio",
}


def _manifest_wall_s(stage_dir: Path) -> float:
    """Wall time of a lineage stage as its manifest records it: every
    bucket row of one wave carries that wave's wall_ms."""
    import pyarrow.parquet as pq

    return sum(set(pq.read_table(stage_dir / "_manifest").column("wall_ms").to_pylist())) / 1000


def layer_metrics(detail: dict, work: Path, out_dir) -> dict:
    spans = detail["traced"]["spans"]
    spark_counters(spans, work / "events")
    own = self_times(spans)
    for span, t in zip(spans, own):
        span["self_s"] = t
    untraced = detail["passes"][0]

    def total(prefix, key=None):
        return sum(
            (own[i] if key is None else s.get(key, 0))
            for i, s in enumerate(spans)
            if s["name"] == prefix or (prefix.endswith(".") and s["name"].startswith(prefix))
        )

    job = next(i for i, s in enumerate(spans) if s["name"] == "job")
    job_wall = spans[job]["end"] - spans[job]["start"]
    top = sum(s["end"] - s["start"] for s in spans if s["parent"] == job)
    # the tagging stage with the most task time is the mapInPandas one
    tag_stage = max(
        (st for s in spans if s["name"] == "extract_mentions" for st in s["stages"]),
        key=lambda st: st["run_ms"],
        default={"tasks": 0, "max_over_median": 0.0},
    )
    stage_dirs = [out_dir / st for st in ("clean_pages", "mentions", "scored_pairs", "canon")]
    stage_dirs = [d for d in stage_dirs if (d / "_manifest").exists()]
    values = {
        "session.start_s": detail["session_start_s"],
        "session.worker_warm_s": detail["worker_warm_s"],
        "session.cold_pass_s": detail["cold_pass"]["job_s"],
        "session.codegen_compiles": untraced["codegen_compiles"],
        "session.spark_jobs": untraced["spark_jobs"],
        "session.persistent_rdds": untraced["persistent_rdds"],
        "session.jvm_jit_s": untraced["jvm_jit_s"],
        "session.jvm_gc_s": untraced["jvm_gc_s"],
        "session.peak_pss_mb": detail["peak_pss_mb"],
        "clean_pages.share": total("clean_pages") / job_wall,
        "clean_pages.rows_in": total("clean_pages", "rows_in"),
        "clean_pages.rows_out": total("clean_pages", "rows"),
        "extract_mentions.s": total("extract_mentions"),
        "extract_mentions.rows": total("extract_mentions", "rows"),
        "extract_mentions.python_worker_s": total("extract_mentions", "python_worker_s"),
        "linking.vocab_minhash.s": total("linking.vocab_minhash"),
        "linking.verified_pairs.s": total("linking.verified_pairs"),
        "linking.edges": total("linking.verified_pairs", "rows"),
        "linking.connected_components.s": total("linking.connected_components"),
        "linking.components": total("linking.connected_components", "components"),
        "triples.pairs_score_agg.s": total("triples.pairs_score_agg"),
        "triples.rows": total("triples.pairs_score_agg", "rows"),
        "materialize.write.s": total("materialize.write"),
        "materialize.bytes_written": sum(dir_bytes(out_dir / t) for t in ("nodes", "edges")),
        "lineage.stage_share": sum(_manifest_wall_s(d) for d in stage_dirs) / untraced["job_s"],
        "lineage.bytes_written": sum(dir_bytes(d) for d in stage_dirs),
        "lineage.buckets_skipped": total("lineage.", "buckets_skipped"),
        "lineage.resume_share": untraced.get("resume_s", 0.0) / untraced["job_s"],
        "extract_mentions.tasks": tag_stage["tasks"],
        "skew.mention_task_max_over_median": tag_stage["max_over_median"],
        "spark.plan_exchanges": detail["plan_exchanges"],
        **{
            f"spark.{k}": sum(s[k] for s in spans)
            for k in ("shuffle_stages", "shuffle_write_bytes", "spill_bytes",
                      "executor_run_s", "executor_cpu_s")
        },
        "job.wall_s": untraced["job_s"],
        "trace.job_s": job_wall,
        "trace.overhead_s": job_wall - untraced["job_s"],
        "trace.coverage": top / job_wall,
    }
    return {k: {"value": values[k], "unit": PER_LAYER[k]} for k in PER_LAYER}
