"""SparkSession factory tuned for the KG-construction workload.

Local-mode knobs mirror what a 1000-executor cluster deployment would set:
AQE on (adaptive coalescing + skew-join splitting supplies the
"adaptive shuffle partitioning at the entity-linking join" requirement),
Arrow enabled for every pandas-UDF stage, shuffle partitions sized to the
core count rather than the 200 default.

Two fixed codegen settings make a long-lived session (repeated batch
jobs, ``run_checkpointed`` resumes, streaming micro-batches) compile
each generated class once:

* ``spark.sql.codegen.cache.maxEntries``: Spark keeps compiled
  whole-stage and expression classes in an LRU cache of 100 entries by
  default.  One pass of the composed pipeline uses more distinct
  classes than that (measured, local[2], Spark 4.1.2: ~190 on the
  perfbench ``crawl_batch`` job, ~80 more on ``crawl_resume``), so
  every pass evicted the classes the next one needed, hit nothing and
  recompiled them all; the JIT then re-optimized the new copies, which
  was most of a warm pass's CPU time.  Both jobs run alternately in
  one session compile 285 distinct classes; at 300 or 500 entries
  every later pass of either hits the cache (bar the few a reshaped
  join adds).  500 leaves room for more stages: an LRU cache over a
  cyclic working set just larger than itself gets no hits at all.
  (The whole test suite, one session, compiles 2754 distinct classes
  with the cache unbounded.)
* ``spark.sql.codegen.useIdInClassName=false``: class names otherwise
  carry the stage id AQE assigns, so the same code gets a new name,
  and misses the cache, whenever a different input size renumbers the
  plan (measured: 329 rather than 281 distinct classes over the two
  jobs, 33 rather than 13 compiles on crawl_batch's first full-size
  pass after a small warm-up).

``extra_conf`` overrides either.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import tempfile
from pathlib import Path

from pyspark.sql import SparkSession

CODEGEN_CACHE_ENTRIES = 500


def _ship_package(spark: SparkSession) -> None:
    """Make ``kgce`` importable on executors regardless of launch cwd.

    Local mode inherits the driver's sys.path only when the launch cwd
    happens to contain the package; a cluster never does.  Zipping the
    package and ``addPyFile``-ing it covers both (the spark-submit
    ``--py-files`` path in kgce/submit.py does the same thing up front).
    Ships once per context (Spark warns on a second add of a path).
    """
    sc = spark.sparkContext
    if getattr(sc, "_kgce_pkg", None):
        return
    pkg_dir = Path(__file__).resolve().parent
    py_files = sorted(pkg_dir.rglob("*.py"))
    if not py_files:
        # imported from a zip (spark-submit --py-files already shipped us)
        return
    # content-addressed name: code edits get a fresh archive, unchanged
    # code reuses the one already built (by this or an earlier process)
    digest = hashlib.sha1()
    for p in py_files:
        digest.update(p.relative_to(pkg_dir).as_posix().encode() + b"\0" + p.read_bytes())
    zip_path = Path(tempfile.gettempdir()) / f"kgce_pkg_{digest.hexdigest()[:16]}.zip"
    if not zip_path.exists():
        shutil.make_archive(str(zip_path.with_suffix("")), "zip", pkg_dir.parent, "kgce")
    sc.addPyFile(str(zip_path))
    sc._kgce_pkg = str(zip_path)


def get_spark(
    app_name: str = "kgce",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to $SPARK_GRAFT_CPUS or all local cores. On a real
    cluster the same configs apply; only ``master`` changes (spark-submit
    sets it, so we honor a pre-set master).
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    if shuffle_partitions is None:
        # one shuffle partition per core locally; a cluster run would use
        # 2-3x total cores — callers override via extra_conf.
        shuffle_partitions = max(int(cores), 8)
    # local mode: driver heap IS the cluster memory (16g measured 5x slower
    # than 48g with 32 concurrent Arrow streams), but G1 grows it lazily, so
    # one larger than the machine can get OOM-killed: half of RAM, <= 48g
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    driver_mem = os.environ.get("KGCE_DRIVER_MEM") or f"{min(phys // 2, 48 << 30) >> 20}m"

    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # small Arrow batches bound the in-flight row volume of fan-out
        # UDFs (1 page -> ~350 pair rows): 1024 measured ~2x faster than
        # 4096 at 32 cores by cutting JVM GC pressure
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # generated-class cache: see the module docstring for the working set
        .config("spark.sql.codegen.cache.maxEntries", str(CODEGEN_CACHE_ENTRIES))
        .config("spark.sql.codegen.useIdInClassName", "false")
    )
    if "SPARK_MASTER" in os.environ:
        builder = builder.master(os.environ["SPARK_MASTER"])
    elif not os.environ.get("SPARK_SUBMIT_DEPLOY_MODE"):
        builder = builder.master(f"local[{cores}]")
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _ship_package(spark)
    return spark
