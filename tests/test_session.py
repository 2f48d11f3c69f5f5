"""Session factory: the generated-class cache settings and their effect
on a repeated pipeline run."""

from kgce import pipeline, schemas, session, synth
from kgce.plans import materialize

USE_ID = "spark.sql.codegen.useIdInClassName"


def _compiles(spark) -> int:
    """Janino compiles so far in this JVM (one per generated-class cache miss)."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_get_spark_codegen_settings_and_extra_conf_override(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        session.CODEGEN_CACHE_ENTRIES
    )
    assert spark.conf.get(USE_ID) == "false"
    try:
        s = session.get_spark("kgce-tests", cores=4, shuffle_partitions=8,
                              extra_conf={USE_ID: "true"})
        assert s is spark and spark.conf.get(USE_ID) == "true"
    finally:
        spark.conf.set(USE_ID, "false")


def test_repeated_pipeline_run_reuses_generated_classes(spark, tmp_path):
    # the same job three times in one session: after the first run the
    # pass's classes are cache hits.  With Spark's defaults (a 100-entry
    # cache, stage ids in class names) the pass's ~130 classes evict each
    # other and every run recompiles most of them ([121, 96, 91]).
    # The first run's count depends on what earlier tests left in the
    # cache, so the bound is on the warm runs alone.  They still compile
    # a few classes: AQE picks a plan alternate from runtime sizes (a
    # broadcast join over LongHashedRelation or UnsafeHashedRelation, a
    # fused or a sorted join side), and each new class compiles once per
    # class loader (two in this session).  Measured warm-run counts: [6, 0]
    # alone, [0, 0] after test_pipeline.py, [0, 6] and [4, 4] after
    # test_resume.py and test_links.py.
    rows = synth.gen_pages(50, seed=23)
    counts = []
    for i in range(3):
        before = _compiles(spark)
        out = pipeline.run(spark.createDataFrame(rows, schema=schemas.PAGES))
        materialize.write_nodes(out["nodes"], str(tmp_path / str(i)))
        materialize.write_edges(out["edges"], str(tmp_path / str(i)))
        counts.append(_compiles(spark) - before)
    assert counts[1] + counts[2] <= 12, counts
