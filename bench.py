#!/usr/bin/env python
"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR on
local[$SPARK_GRAFT_CPUS]; prints ONE JSON line.

``value`` is total wall seconds over the headline set; ``queries`` has
per-query seconds; ``derived`` adds throughput figures (triples/sec for
the flagship pipeline — the BASELINE.json headline metric).

Measurement hygiene (hard-won, see CLAUDE.md):

* ``df.count()`` measures NOTHING for computed projections — Catalyst
  prunes every expression count() doesn't need (a window decode's
  collect_list/min_by would be optimized out of the timing).  Each query
  is materialized via ``count + bit_xor(xxhash64(*cols))`` over ALL
  output columns, which forces every expression to execute (bit_xor,
  not sum: ANSI mode overflows on summed hashes).
* the host is SHARED: a single timing can measure a neighbor's burst
  instead of the engine (observed 30x swings at load>8 with this
  container's own CPUs 96% idle).  min-of-N per query
  ($SPARK_GRAFT_BENCH_RUNS) + per-query 1-min load average recorded in
  the JSON so any outlier is adjudicable after the fact.
* a secondary scale factor (default sf0.01, $SPARK_GRAFT_SF2_DIR;
  "none" disables) runs after the primary and is embedded under
  ``secondary`` — a 10x input spread separates fixed overhead from
  data-proportional cost when a query regresses round-over-round.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    "pipeline_full",          # COMPOSED job: clean -> extract -> link -> triples
    "pipeline_triples_hybrid",  # flagship: Python tags, JVM pairs
    "pipeline_triples",       # fused UDF form (round-over-round diff)
    "mentions_decode",        # window-based decode
    "triples_agg",            # self-join + aggregation
    "q1_pricing_summary",     # scan-heavy aggregation
    "lsh_pairs",              # MinHash LSH blocking join
    "user_sessions",          # sessionization windows
    "connected_components",   # iterative CC
    "cosine_topk",            # embedding brute-force top-k
]

# training-data-pipeline operators, timed once each (single run, primary
# sf only) — round-over-round perf evidence beyond the KG headline.
# Deliberately EXCLUDED: ngram_jaccard and simhash_pairs — their graded
# forms are exact all-pairs (max_df=None) and the synthetic corpus's
# shared filler vocabulary makes that quadratic (158s/50s at sf0.01);
# they exist to grade VALUES, the scale path is the max_df-guarded /
# LSH-blocked form already benched via near_dup_groups.
EXTENDED = [
    "pipeline_full_prov",
    "structured_triples",
    "link_pagerank",
    "recrawl_maintain",
    "strip_repeated_ngrams",
    "lm_perplexity",
    "kg_embed",
    "rule_mining",
    "communities",
    "domain_stats",
    "near_dup_groups",
    "sequence_packing",
    "token_quality",
    "pii_redaction",
    "stratified_sample",
    "decontam_hits",
    "strip_boilerplate",
    "mixing_weights",
    "triangle_stats",
    "ivf_topk",
]


def _materialize(df) -> int:
    """Force FULL execution of every output expression; return rowcount.

    count() alone lets Catalyst prune computed columns out of the plan;
    hashing every column keeps them all live.  bit_xor is order- and
    overflow-safe (ANSI mode rejects sum(hash)).
    """
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64(*df.columns)).alias("fp"),
    ).first()
    return row.n


def _time_query(qs, spark, name, sf_dir, runs):
    """min-of-runs + the full per-run list and the load at start AND
    end — a neighbor burst mid-query is adjudicable after the fact
    (launch-only load missed the burst that inflated r5's extended set
    5-30x while standalone re-runs at low load reproduced r4 numbers)."""
    per_run = []
    l0 = round(os.getloadavg()[0], 2)
    n = 0
    for _ in range(runs):
        t0 = time.monotonic()
        n = _materialize(qs[name](spark, sf_dir))
        per_run.append(round(time.monotonic() - t0, 3))
    l1 = round(os.getloadavg()[0], 2)
    return min(per_run), per_run, (l0, l1), n


def _run_set(spark, qs, sf_dir: str, runs: int):
    """Time each headline query (min-of-``runs``) at one scale factor."""
    timings: dict[str, float] = {}
    loads: dict[str, list[float]] = {}
    all_runs: dict[str, list[float]] = {}
    n_triples = 0
    for name in HEADLINE:
        best, per_run, (l0, l1), n = _time_query(qs, spark, name, sf_dir, runs)
        timings[name] = round(best, 3)
        loads[name] = [l0, l1]
        all_runs[name] = per_run
        if name == "pipeline_triples_hybrid":
            n_triples = n
    return timings, loads, all_runs, n_triples


def _sf_of(sf_dir: str):
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    return float(sf) if sf.replace(".", "").isdigit() else sf


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf2_dir = os.environ.get("SPARK_GRAFT_SF2_DIR", "/root/testdata/sf0.01")
    cores = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))

    import __spark_entry__ as entrymod
    from kgce.session import get_spark

    spark = get_spark("kgce-bench", cores=cores, shuffle_partitions=max(cores, 8))

    # every no-partition window in the bench set runs over a provably
    # bounded frame (kgce.plans.partitioning.tiny_global_window documents
    # each bound); silence the per-instance WindowExec warning so the
    # bench log stays readable (r3 VERDICT #7 — a partitionBy(lit(1))
    # silencer does not work: Catalyst folds literal partition keys out)
    jvm = spark.sparkContext._jvm
    jvm.org.apache.log4j.LogManager.getLogger(
        "org.apache.spark.sql.execution.window.WindowExec"
    ).setLevel(jvm.org.apache.log4j.Level.ERROR)

    qs = dict(entrymod.queries())
    # bench-only entries (the driver grades at most 50 queries()
    # entries; see the pipeline_full / bench_strip_repeated_ngrams
    # docstrings for where their correctness is pinned instead)
    qs["pipeline_full"] = entrymod.pipeline_full
    qs["pipeline_full_prov"] = entrymod.pipeline_full_prov
    qs["strip_repeated_ngrams"] = entrymod.bench_strip_repeated_ngrams
    qs["domain_stats"] = entrymod.bench_domain_stats
    qs["link_pagerank"] = entrymod.bench_link_pagerank
    qs["lm_perplexity"] = entrymod.bench_lm_perplexity
    # run 1 builds + caches the KG edges; run 2+ measure pure training
    qs["kg_embed"] = entrymod.bench_kg_embed
    qs["rule_mining"] = entrymod.bench_rule_mining
    qs["communities"] = entrymod.bench_communities
    # min-of-N semantics matter here: run 1 builds the prev-snapshot KG
    # state (cached), run 2+ measure the pure incremental maintenance
    qs["recrawl_maintain"] = entrymod.bench_recrawl_maintain
    # session warmup: JVM JIT, FS listing, python worker spin-up — none of
    # it belongs to the first measured query
    spark.read.parquet(f"{sf_dir}/documents.parquet").count()
    spark.range(1000).selectExpr("sum(id)").collect()

    def _noop(batches):
        for b in batches:
            yield b

    # spin up the Arrow worker pool (one python worker per core) so the
    # first mapInPandas query measures the operator, not process forks
    spark.range(cores * 4).repartition(cores).mapInPandas(
        _noop, "id long"
    ).count()
    # min-of-3 by default: the 2026-08-18 adjudication (BENCH/R5_NOTES.md)
    # showed BOTH runs of a min-of-2 landing inside one multi-minute
    # neighbor-contention window (7-22s for a pinned-reproducible 1.3s
    # query); a third run widens the window the burst must fully cover
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))
    timings, loads, all_runs, n_triples = _run_set(spark, qs, sf_dir, runs)

    out = {
        "metric": "headline_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": _sf_of(sf_dir),
        "load1": loads,
        "runs": all_runs,
        "derived": {
            "triples": n_triples,
            "triples_per_sec": round(n_triples / timings["pipeline_triples_hybrid"], 1)
            if timings.get("pipeline_triples_hybrid")
            else None,
            "cores": cores,
        },
    }
    # min-of-runs for the extended set too (r4 VERDICT #6): a single
    # timing on this shared host can measure a neighbor's burst — the
    # triangle_stats 5.03 s "regression" at load 12 was exactly that
    ext: dict[str, float] = {}
    ext_loads: dict[str, list[float]] = {}
    ext_runs: dict[str, list[float]] = {}
    for name in EXTENDED:
        if name not in qs:
            continue
        best, per_run, (l0, l1), _n = _time_query(qs, spark, name, sf_dir, runs)
        ext[name] = round(best, 3)
        ext_loads[name] = [l0, l1]
        ext_runs[name] = per_run
    out["extended"] = {
        "total": round(sum(ext.values()), 3),
        "queries": ext,
        "load1": ext_loads,
        "runs": ext_runs,
    }
    if (
        sf2_dir
        and sf2_dir.lower() != "none"
        and os.path.isdir(sf2_dir)
        and os.path.realpath(sf2_dir) != os.path.realpath(sf_dir)
    ):
        t2, l2, r2, _ = _run_set(spark, qs, sf2_dir, runs)
        out["secondary"] = {
            "sf": _sf_of(sf2_dir),
            "total": round(sum(t2.values()), 3),
            "queries": t2,
            "load1": l2,
            "runs": r2,
        }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
