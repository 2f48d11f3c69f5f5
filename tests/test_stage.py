"""plans.stage.checkpoint, on each side of its leaf rule: a frame that
already is materialized data comes back unchanged without a Spark job;
a derived plan is materialized into a checkpoint leaf."""

import uuid

from kgce.plans.stage import checkpoint


def _root(df) -> str:
    return df._jdf.queryExecution().analyzed().getClass().getSimpleName()


def _with_jobs(spark, fn):
    """(fn(), ids of the Spark jobs fn started)."""
    sc = spark.sparkContext
    group = f"stage-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "plans.stage.checkpoint test")
    try:
        out = fn()
        return out, list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _rows(df):
    return sorted(map(tuple, df.collect()))


def test_checkpoint_keeps_leaves_without_a_job(spark, tmp_path):
    path = str(tmp_path / "t")
    spark.createDataFrame([(i, f"v{i}") for i in range(20)], "id long, v string").write.parquet(
        path
    )
    scan = spark.read.parquet(path)
    out, jobs = _with_jobs(spark, lambda: checkpoint(scan))
    assert out is scan and jobs == []

    done = checkpoint(scan.filter("id % 2 = 0"))
    assert _root(done) == "LogicalRDD"
    out, jobs = _with_jobs(spark, lambda: checkpoint(done))
    assert out is done and jobs == []


def test_checkpoint_materializes_derived_plans(spark):
    a = spark.createDataFrame([(i, i * 10) for i in range(30)], "id long, x long")
    b = spark.createDataFrame([(i, f"b{i}") for i in range(0, 30, 3)], "id long, y string")
    joined = a.join(b, "id")
    udf_out = a.mapInPandas(lambda it: (p.assign(x=p.x + 1) for p in it), a.schema)
    for df in (joined, udf_out):
        out, jobs = _with_jobs(spark, lambda: checkpoint(df))
        assert _root(out) == "LogicalRDD" and jobs
        assert _rows(out) == _rows(df)
