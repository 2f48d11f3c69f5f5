"""End-to-end benchmark of the kgce pipeline on generated crawls.

    python3 perfbench/run.py --workload crawl_batch --seed 1 --seconds 18 --trace 0

Run from the root of a source checkout.  One run:

1. generates the workload's input and a small warm-up input from
   ``--seed``, lands both as parquet and builds the ``kgce`` package zip;
2. starts the Spark session and its Python workers (``setup_s``);
3. runs one untimed warm-up pass of the job on the warm-up input (the
   JVM's first pass is cold), checking its output against the oracle;
4. ``--trace 0``: runs timed passes on the full input, at least two,
   until ``--seconds`` of timed passes, and prints the end-to-end metrics.
   ``--trace 1``: runs one untimed pass, then one pass with spans around
   every layer and a Spark event log, and prints the per-layer metrics
   (see ``tracing.py``);
5. stops Spark and waits until the JVM and every Python worker exited.

Every pass's output is checked; a pass that raises or fails a check
counts in ``failed``.  The last stdout line is the result JSON; the line
before it holds the per-pass counters and diagnostics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import procs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

WORKLOADS = ("crawl_batch", "crawl_resume")
# Spark task slots.  A warm pass also keeps the JIT compiler threads busy
# (about 1.5 cores: Janino regenerates ~190 classes per pass), and the
# driver thread plans and compiles; two slots on a 4-vCPU host leave
# them room, so a pass does not measure the host's scheduler.
CORES = 2
# driver heap: the session's 48g default does not fit a 16 GB host
DRIVER_MEM = "3g"


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=18)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "tiny"), default="full")
    return ap.parse_args(argv)


def _isolate(work: Path) -> dict:
    """Keep every file the run writes inside ``work`` and pin the
    settings that change timings."""
    tmp = work / "tmp"
    tmp.mkdir(parents=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    os.environ["KGCE_DRIVER_MEM"] = DRIVER_MEM
    # every JVM, spark-submit's launcher too: temp files in the checkout,
    # no perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData",
                      f"-Djava.io.tmpdir={tmp}"])
    )
    for var in ("SPARK_MASTER", "SPARK_SUBMIT_DEPLOY_MODE", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR
    return {"spark.sql.warehouse.dir": str(work / "warehouse")}


def _build_package_zip() -> None:
    """Build the kgce zip that get_spark ships to the Python workers now,
    so the build does not count as set-up."""
    from types import SimpleNamespace

    from kgce import session

    session._ship_package(SimpleNamespace(sparkContext=SimpleNamespace(addPyFile=lambda p: None)))


def start_session(conf: dict) -> tuple:
    """Session start, then one task per core through a pandas UDF so
    every Python worker is forked and has imported pandas and Arrow."""
    t0 = time.perf_counter()
    from kgce.session import get_spark

    spark = get_spark("perfbench", cores=CORES, extra_conf=conf)
    t1 = time.perf_counter()

    def touch_pandas(batches):  # nested, so it is pickled by value
        import pandas  # noqa: F401  (the import is the warm-up)

        yield from batches

    spark.range(0, CORES, 1, CORES).mapInPandas(touch_pandas, "id long").collect()
    return spark, t1 - t0, time.perf_counter() - t1


def stop_session(spark) -> list[int]:
    """Stop Spark, close the gateway JVM and wait for every descendant
    process to exit.  Returns the pids that had to be killed."""
    from pyspark import SparkContext

    pids = list(procs.tree(os.getpid()))
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait()
    return procs.wait_gone(pids, 60)


class Counters:
    """Counters read from the driver JVM around a pass.  ``spark_jobs``
    repeats exactly; the Janino compile count and the JVM's GC and JIT
    times explain wall-time noise."""

    def __init__(self, spark):
        jvm = spark._jvm
        self.jsc = spark.sparkContext._jsc
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics
        self.mx = jvm.java.lang.management.ManagementFactory

    def read(self) -> dict:
        return {
            "codegen_compiles": self.codegen.METRIC_COMPILATION_TIME().getCount(),
            "spark_jobs": self.jsc.sc().dagScheduler().numTotalJobs(),
            "jvm_gc_s": sum(b.getCollectionTime() for b in self.mx.getGarbageCollectorMXBeans())
            / 1000,
            "jvm_jit_s": self.mx.getCompilationMXBean().getTotalCompilationTime() / 1000,
        }

    def delta(self, before: dict) -> dict:
        now = self.read()
        return {
            **{k: now[k] - before[k] for k in now},
            "persistent_rdds": self.jsc.getPersistentRDDs().size(),
        }


def timed_pass(wl, tag, counters, resume: bool) -> dict:
    """One pass of the job with wall, process-tree CPU and counters; the
    output check runs after the timed interval.  With ``resume`` (and a
    workload that has one) the resume follows, timed and checked too."""
    before = counters.read()
    cpu0, steal0 = procs.tree_cpu_s(os.getpid()), procs.steal_s()
    t0 = time.perf_counter()
    wl.job(tag)
    rec = {
        "job_s": time.perf_counter() - t0,
        "cpu_s": procs.tree_cpu_s(os.getpid()) - cpu0,
        "steal_s": procs.steal_s() - steal0,
    }
    rec.update(counters.delta(before))
    rec.update(wl.check(tag))
    if resume and hasattr(wl, "resume"):
        t1 = time.perf_counter()
        wl.resume(tag)
        rec["resume_s"] = time.perf_counter() - t1
        wl.check(tag)
    return rec


def run(args) -> tuple[dict, dict]:
    pre_main_s = procs.seconds_since_start()
    work = ROOT / ".bench_work"
    shutil.rmtree(work, ignore_errors=True)
    procs.wait_gone(procs.stale_processes(str(ROOT)), 60)
    conf = _isolate(work)
    load_start = procs.load1()

    import inputs

    n_pages = inputs.SIZES[args.size]
    inp = inputs.make(args.workload, args.seed, n_pages, work / "input")
    warm_inp = inputs.make(args.workload, args.seed, min(inputs.WARMUP_PAGES, n_pages),
                           work / "warmup-input")
    _build_package_zip()

    detail: dict = {
        "workload": args.workload,
        "seed": args.seed,
        "size": args.size,
        "driver_mem": DRIVER_MEM,
        "cores": CORES,
        "input_pages": inp.n_pages,
        "warmup_pages": warm_inp.n_pages,
        "load1_start": load_start,
    }
    if args.trace:
        (work / "events").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": (work / "events").as_uri(),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    with procs.PeakMemory(os.getpid()) as mem:
        t_setup = time.perf_counter()
        spark, start_s, warm_s = start_session(conf)
        setup_s = pre_main_s + (time.perf_counter() - t_setup)
        detail.update(session_start_s=start_s, worker_warm_s=warm_s)
        try:
            import jobs

            wl = jobs.WORKLOADS[args.workload](spark, inp, work)
            warm = jobs.WORKLOADS[args.workload](spark, warm_inp, work)
            counters = Counters(spark)
            attempted = failed = 0
            passes = []

            def attempt(tag, resume=True, w=wl) -> dict | None:
                nonlocal attempted, failed
                attempted += 1
                try:
                    rec = timed_pass(w, tag, counters, resume)
                    if w is wl and "plan_exchanges" not in detail:
                        # before a traced pass replaces the DataFrames
                        detail["plan_exchanges"] = wl.plan_exchanges()
                    return rec
                except Exception as e:
                    failed += 1
                    traceback.print_exc()
                    detail.setdefault("errors", []).append(f"{tag}: {type(e).__name__}: {e}"[:2000])
                    return None

            detail["cold_pass"] = attempt("cold", w=warm)
            if args.trace:
                import tracing

                untraced = attempt("untraced")
                passes = [untraced] if untraced is not None else []
                detail["traced"] = tracing.traced_pass(wl, "traced", spark)
                attempted += 1
                failed += detail["traced"] is None
            else:
                timed = 0.0
                while True:
                    # the resume ran (and was checked) in the warm-up
                    # pass; leaving it out here keeps a run near a minute
                    rec = attempt(f"p{attempted}", resume=False)
                    if rec is None:
                        break
                    passes.append(rec)
                    timed += rec["job_s"]
                    # at least two passes, so that a host that slows one
                    # pass does not change how many a run of this code times
                    if len(passes) >= 2 and timed >= args.seconds:
                        break
        finally:
            killed = stop_session(spark)
    detail.update(
        passes=passes,
        attempted=attempted,
        failed=failed,
        killed_pids=killed,
        load1_end=procs.load1(),
        peak_pss_mb=mem.peak / 2**20,
        pss_mb_at_peak=mem.at_peak,
        setup_s=setup_s,
    )
    correct = failed == 0 and bool(passes)
    if args.trace:
        metrics = tracing.layer_metrics(detail, work, wl.out_dir("untraced")) if correct else {}
    else:
        metrics = end_to_end(detail) if passes else {}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}, detail


def end_to_end(detail: dict) -> dict:
    passes = detail["passes"]

    def med(key):
        return statistics.median(p[key] for p in passes)

    return {
        "cpu_s": {"value": med("cpu_s"), "unit": "s"},
        "setup_s": {"value": detail["setup_s"], "unit": "s"},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "kgce" / "__init__.py").is_file():
        print(f"perfbench: no kgce package beside {HERE.name}/ (run from a source checkout)",
              file=sys.stderr)
        return 2
    result, detail = run(args)
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    (out_dir / name).write_text(json.dumps(detail, indent=1, default=str))
    print(json.dumps(detail, default=str))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
