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
    # the same job three times in one session: after the first run every
    # generated class is a cache hit.  With Spark's defaults (a 100-entry
    # cache, stage ids in class names) the pass's ~130 classes evict each
    # other and every run recompiles most of them.
    rows = synth.gen_pages(50, seed=23)
    counts = []
    for i in range(3):
        before = _compiles(spark)
        out = pipeline.run(spark.createDataFrame(rows, schema=schemas.PAGES))
        materialize.write_nodes(out["nodes"], str(tmp_path / str(i)))
        materialize.write_edges(out["edges"], str(tmp_path / str(i)))
        counts.append(_compiles(spark) - before)
    assert counts[2] <= counts[0] // 10, counts
