"""Kill/resume: completed buckets must be skipped on re-run and the final
output must be byte-identical to an uninterrupted run (FIXTURES.md F6)."""

import os
import subprocess
import sys
import time
from pathlib import Path

import pytest
from pyspark.sql import functions as F
from test_pipeline import _table_fingerprint

from kgce import pipeline, schemas, synth, tagging
from kgce.plans.lineage import StageConfigMismatch, StageRunner

REPO = Path(__file__).resolve().parents[1]


class Boom(RuntimeError):
    pass


def _pages(spark, n=40):
    return spark.createDataFrame(synth.gen_pages(n, seed=11), schema=schemas.PAGES)


def test_resume_skips_completed_buckets(spark, tmp_path):
    pages = _pages(spark)
    calls = []

    def failing_transform(df):
        calls.append(1)
        if len(calls) == 3:  # die while processing the 3rd bucket
            raise Boom("simulated mid-run failure")
        return tagging.extract_mentions(df)

    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=4)
    with pytest.raises(Boom):
        # wave size 1 = per-bucket checkpoint granularity
        runner.run("mentions", pages, failing_transform, key="url", max_buckets_per_job=1)
    assert runner.completed_buckets("mentions") == {0, 1}

    calls2 = []

    def counting_transform(df):
        calls2.append(1)
        return tagging.extract_mentions(df)

    out = runner.run(
        "mentions", pages, counting_transform, key="url", max_buckets_per_job=1
    )
    # only the 2 remaining buckets were recomputed
    assert len(calls2) == 2
    assert runner.completed_buckets("mentions") == {0, 1, 2, 3}

    # identical to an uninterrupted single-wave (default) run
    clean = StageRunner(spark, str(tmp_path / "wd2"), n_buckets=4).run(
        "mentions", pages, tagging.extract_mentions, key="url"
    )
    key = ["url", "sent_id", "mention_id", "text", "start", "end", "type"]
    assert sorted(map(tuple, out.select(key).collect())) == sorted(
        map(tuple, clean.select(key).collect())
    )


def test_resume_is_noop_when_complete(spark, tmp_path):
    pages = _pages(spark, 20)
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=3)
    runner.run("mentions", pages, tagging.extract_mentions, key="url")
    calls = []

    def spy(df):
        calls.append(1)
        return tagging.extract_mentions(df)

    runner.run("mentions", pages, spy, key="url")
    assert calls == []


def test_manifest_records_lineage(spark, tmp_path):
    pages = _pages(spark, 20)
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=3)
    runner.run("mentions", pages, tagging.extract_mentions, key="url")
    m = runner.manifest("mentions").collect()
    assert {r.bucket for r in m} == {0, 1, 2}
    assert all(r.status == "done" and r.row_count >= 0 and len(r.input_hash) == 16 for r in m)


def test_default_wave_is_single_job(spark, tmp_path):
    """Default wave = all missing buckets in ONE transform call (one input
    scan), while the manifest still records every bucket individually and
    a wave-size-1 resume can pick up after it."""
    pages = _pages(spark, 30)
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=4)
    calls = []

    def counting(df):
        calls.append(1)
        return tagging.extract_mentions(df)

    out = runner.run("mentions", pages, counting, key="url")
    assert len(calls) == 1
    assert runner.completed_buckets("mentions") == {0, 1, 2, 3}
    m = {r.bucket: r for r in runner.manifest("mentions").collect()}
    assert set(m) == {0, 1, 2, 3}
    # per-bucket hashes/counts match a per-bucket-granularity run
    other = StageRunner(spark, str(tmp_path / "wd2"), n_buckets=4)
    other.run("mentions", pages, tagging.extract_mentions, key="url", max_buckets_per_job=1)
    m2 = {r.bucket: r for r in other.manifest("mentions").collect()}
    assert {b: (r.input_hash, r.row_count) for b, r in m.items()} == {
        b: (r.input_hash, r.row_count) for b, r in m2.items()
    }
    assert out.count() == sum(r.row_count for r in m.values())


def test_config_mismatch_refuses_resume(spark, tmp_path):
    pages = _pages(spark, 10)
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=2)
    runner.run("s", pages, tagging.extract_mentions, key="url", config={"v": 1})
    with pytest.raises(StageConfigMismatch):
        runner.run("s", pages, tagging.extract_mentions, key="url", config={"v": 2})


def test_transform_dropping_key_is_refused(spark, tmp_path):
    """The written buckets are computed from ``key``: a transform that
    drops it is refused, naming the stage and the key, before any
    bucket is written or acknowledged."""
    pages = _pages(spark, 10)
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=2)
    with pytest.raises(ValueError, match="'keyless'.*'url'"):
        runner.run("keyless", pages, lambda df: df.drop("url"), key="url")
    assert runner.completed_buckets("keyless") == set()
    assert not (tmp_path / "wd" / "keyless" / "data").exists()


def test_run_global_caches_and_resumes(spark, tmp_path):
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=2)
    calls = []

    def build():
        calls.append(1)
        return spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")

    out1 = runner.run_global("g", build, config={"x": 1})
    assert len(calls) == 1 and out1.count() == 2
    out2 = runner.run_global("g", build, config={"x": 1})
    assert len(calls) == 1  # cached, build not re-invoked
    assert sorted(map(tuple, out2.collect())) == sorted(map(tuple, out1.collect()))
    m = runner.manifest("g").collect()
    assert m[0].bucket == -1 and m[0].row_count == 2
    with pytest.raises(StageConfigMismatch):
        runner.run_global("g", build, config={"x": 2})


def _jobs(spark):
    """Spark jobs started so far in this context (the DAG scheduler's job id counter)."""
    return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()


def test_bookkeeping_starts_no_read_back_job(spark, tmp_path, monkeypatch):
    """Row counts are observed by the write itself: reading the done
    buckets is one job (the manifest schema is declared, not inferred),
    and run_global starts no job between its write and its manifest
    append."""
    runner = StageRunner(spark, str(tmp_path / "wd"), n_buckets=2)
    runner.run("mentions", _pages(spark, 10), tagging.extract_mentions, key="url")
    j0 = _jobs(spark)
    assert runner.completed_buckets("mentions") == {0, 1}
    assert _jobs(spark) - j0 == 1

    def build():
        return spark.range(0, 50, 1, 2)

    j0 = _jobs(spark)
    build().write.parquet(str(tmp_path / "plain"))
    write_jobs = _jobs(spark) - j0

    at_record = []
    record = StageRunner._record

    def spy(self, mdir, rows):
        at_record.append(_jobs(spark))
        record(self, mdir, rows)

    monkeypatch.setattr(StageRunner, "_record", spy)
    j0 = _jobs(spark)
    runner.run_global("g", build)
    assert at_record == [j0 + write_jobs]
    assert [tuple(r)[:4] for r in runner.manifest("g").collect()] == [("g", -1, "", 50)]


_KILLED_RUN = """
import os, sys
sys.path.insert(0, {repo!r})
from kgce import pipeline, schemas, synth
from kgce.plans.lineage import StageRunner
from kgce.session import get_spark

record = StageRunner._record

def record_then_die(self, mdir, rows):
    record(self, mdir, rows)
    os._exit(17)

StageRunner._record = record_then_die
spark = get_spark("kgce-killed-run", cores=2, shuffle_partitions=4)
pages = spark.createDataFrame(synth.gen_pages(30, seed=23), schema=schemas.PAGES)
pipeline.run_checkpointed(pages, {wd!r}, n_buckets=4)
"""


def test_killed_run_checkpointed_resumes_to_equal_tables(spark, tmp_path):
    """A run_checkpointed process killed right after its first manifest
    append (the mentions stage) resumes on the same directory: the
    completed stage is not rewritten, and nodes and edges equal a fresh
    run's."""
    wd = tmp_path / "work"
    env = {**os.environ, "KGCE_DRIVER_MEM": "1g"}
    t0 = time.monotonic()
    proc = subprocess.run(
        [sys.executable, "-c", _KILLED_RUN.format(repo=str(REPO), wd=str(wd))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    print(f"killed run: {time.monotonic() - t0:.1f} s")
    assert proc.returncode == 17, proc.stderr[-2000:]

    runner = StageRunner(spark, str(wd), n_buckets=4)
    assert runner.completed_buckets("mentions") == {0, 1, 2, 3}
    assert not (wd / "scored_pairs" / "_manifest").exists()

    def written(stage):
        return sorted(
            (str(p.relative_to(wd)), p.stat().st_mtime_ns) for p in (wd / stage).rglob("*.parquet")
        )

    mentions_before = written("mentions")
    pages = spark.createDataFrame(synth.gen_pages(30, seed=23), schema=schemas.PAGES)
    out = pipeline.run_checkpointed(pages, str(wd), n_buckets=4)
    assert written("mentions") == mentions_before  # skipped, not recomputed
    assert runner.completed_buckets("scored_pairs") == {0, 1, 2, 3}

    fresh = pipeline.run_checkpointed(pages, str(tmp_path / "fresh"), n_buckets=4)
    for t in ("nodes", "edges"):
        assert _table_fingerprint(out[t]) == _table_fingerprint(fresh[t])
    assert _table_fingerprint(out["edges"])[0] > 0
