#!/usr/bin/env python
"""Scaling-efficiency evidence (BASELINE.md target: >= 0.8 from N to 4N).

No real cluster exists in this sandbox, so the two-cluster-size criterion
is evidenced by running the SAME job at two parallelism levels — N and 4N
local cores (default local[2] vs local[8]; both levels stay inside the
host's free capacity, since this 32-core box is shared and local[32]
competes with neighbor load) — on the SAME input, in separate JVMs,
reporting throughput at both plus efficiency = (T_N / T_4N) / 4.
min-of-3 timed runs per level guards against neighbor noise spikes.

The measured job is the flagship hybrid pipeline (documents-as-pages ->
Python mention tagging -> JVM pair generation -> aggregated triples),
timed inside the process AFTER session warm-up so JVM startup is
excluded.

Writes BENCH/BASELINE.md and prints one JSON line.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

RUN_SNIPPET = r"""
import json, os, sys, time
sys.path.insert(0, {repo!r})
from kgce.session import get_spark
from kgce.operators import triples as triples_ops
from pyspark.sql import functions as F

cores = int(os.environ["KGCE_CORES"])
replicas = int(os.environ.get("KGCE_REPLICAS", "64"))
sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
spark = get_spark("kgce-scaling", cores=cores, shuffle_partitions=max(cores, 8))
docs = spark.read.parquet(f"{{sf_dir}}/documents.parquet")
# deterministic corpus amplification: the measured job must be large
# enough that per-task fixed overheads are negligible at BOTH levels
pages = (
    docs.select("doc_id", "text", F.explode(F.sequence(F.lit(0), F.lit(replicas - 1))).alias("rep"))
    .select(F.concat(F.lit("doc://"), F.col("doc_id").cast("string"),
                     F.lit("#"), F.col("rep").cast("string")).alias("url"), "text")
)
pages = pages.repartition(cores * 8).cache()
pages.count()  # warm: materialize input, JIT, python workers
job = triples_ops.extract_triples_hybrid(pages)
n = job.count()  # warm-up pass compiles codegen + spins python workers
walls = []
for _ in range(3):
    t0 = time.monotonic()
    job.count()
    walls.append(time.monotonic() - t0)
wall = min(walls)  # min: robust to shared-host noise spikes
print(json.dumps({{"cores": cores, "wall_sec": wall, "triples": n,
                   "triples_per_sec": n / wall}}))
"""


def run_at(cores: int, sf_dir: str, cpu_base: int = 16) -> dict:
    """Run the measured job in a fresh JVM pinned to exactly ``cores``
    PHYSICAL cpus (taskset over the whole process tree — JVM threads AND
    Python workers).  Without pinning, local[N]'s Arrow-pipelined
    Python+JVM overlap burns up to 2N cores, silently inflating the
    low-parallelism throughput and deflating measured scaling."""
    cpus = ",".join(str(cpu_base + i) for i in range(cores))
    env = dict(os.environ, KGCE_CORES=str(cores), SPARK_GRAFT_SF_DIR=sf_dir)
    load1 = os.getloadavg()[0]
    out = subprocess.run(
        ["taskset", "-c", cpus, sys.executable, "-c", RUN_SNIPPET.format(repo=str(REPO))],
        env=env,
        capture_output=True,
        text=True,
        timeout=3000,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("{")][-1]
    return {**json.loads(line), "load1": round(load1, 2)}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n_lo = int(os.environ.get("KGCE_N_LO", "2"))
    n_hi = int(os.environ.get("KGCE_N_HI", "8"))
    # ALTERNATE the two levels over several JVM pairs and take the min
    # per level: taskset isolates our own processes, but the kernel still
    # schedules NEIGHBOR containers onto the pinned cpus, and a noise
    # burst that lands inside one level's JVM (even with its internal
    # min-of-3) would skew the ratio.  Interleaving gives both levels the
    # same exposure to each noise window.
    rounds = int(os.environ.get("KGCE_ROUNDS", "2"))
    lo_runs, hi_runs = [], []
    for _ in range(rounds):
        lo_runs.append(run_at(n_lo, sf_dir))
        hi_runs.append(run_at(n_hi, sf_dir))
    lo = min(lo_runs, key=lambda r: r["wall_sec"])
    hi = min(hi_runs, key=lambda r: r["wall_sec"])
    loads = [r["load1"] for r in lo_runs + hi_runs]
    eff = (lo["wall_sec"] / hi["wall_sec"]) / (n_hi / n_lo)
    result = {
        "sf_dir": sf_dir,
        "loN": {k: round(v, 2) for k, v in lo.items()},
        "lo4N": {k: round(v, 2) for k, v in hi.items()},
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "meets_target": eff >= 0.8,
        "rounds": rounds,
        "load1_at_launches": loads,
    }
    print(json.dumps(result))
    md = f"""# BENCH/BASELINE — measured scaling evidence

Job: flagship hybrid KG pipeline (documents-as-pages → Python mention
tagging via mapInPandas → JVM posexplode pair generation → triple
aggregation) on `{sf_dir}` amplified ×64 deterministically
({lo['triples']} distinct triples from 320k pages / ~27.7M mention
pairs), same input at two parallelism levels, separate JVMs pinned with
``taskset`` to exactly N physical cpus each (without pinning, local[N]'s
Arrow-pipelined Python+JVM overlap burns up to 2N cores and understates
scaling), min of 3 timed runs per JVM × {rounds} ALTERNATING JVM pairs
per level (interleaving gives both levels the same exposure to neighbor
noise windows), session warm-up and input materialization excluded from
timing.  1-min load at the {2 * rounds} JVM launches: {loads}.

| parallelism | wall (s) | triples/sec |
|---|---|---|
| local[{lo['cores']}]  (N)  | {lo['wall_sec']:.2f} | {lo['triples_per_sec']:.1f} |
| local[{hi['cores']}] (4N) | {hi['wall_sec']:.2f} | {hi['triples_per_sec']:.1f} |

**Scaling efficiency (N → 4N) = (T_N / T_4N) / 4 = {eff:.3f}**
(target ≥ 0.8 — {"MET" if eff >= 0.8 else "NOT MET"})

Sandbox proxy for the BASELINE.json two-cluster-size criterion: no real
cluster is available, so taskset-pinned parallelism levels stand in for
executor counts.  N=2 vs 4N=8 was chosen because the 32-core host is
SHARED: pinning to cpus 16-23 keeps the measurement inside a fixed slice
regardless of neighbor load; local[32] would compete with neighbors and
measure them, not the engine.  The measured job is the flagship hybrid
pipeline (pages -> mention tagging in one narrow Arrow-UDF stage -> JVM
pair generation -> partial-aggregated triple groupBy); its only wide
shuffle is the 63k-key triple aggregation, so the scaling profile is
CPU-dominated — the same profile a real cluster would see per-executor.

Launch-mode + checkpoint-resume evidence: BENCH/SUBMIT.md.
"""
    (REPO / "BENCH" / "BASELINE.md").write_text(md)


if __name__ == "__main__":
    main()
