"""The one materialization call: :func:`checkpoint`.

Every operator that forks a DataFrame into several consumers, or cuts
an iterative lineage, materializes through this function, so the rule
for when a frame is already materialized lives in one place.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

# analyzed-plan roots that already are materialized data: re-reading them
# costs a scan, never a recompute of upstream work
_DATA_ROOTS = ("LogicalRelation", "LocalRelation")


def _is_leaf(df: DataFrame) -> bool:
    """True when the analyzed plan is a parquet (file source) read, local
    data, or the output of a completed checkpoint."""
    plan = df._jdf.queryExecution().analyzed()
    name = plan.getClass().getSimpleName()
    if name in _DATA_ROOTS:
        return True
    # a LogicalRDD is a checkpoint's output only once its RDD is
    # materialized; createDataFrame(list) and lazy checkpoints are not
    return name == "LogicalRDD" and plan.rdd().isCheckpointed()


def checkpoint(df: DataFrame) -> DataFrame:
    """Materialize ``df`` eagerly and return a frame reading the result.

    Reliable checkpoint when a checkpoint dir is configured (cluster
    mode: survives executor loss), localCheckpoint otherwise (local mode:
    lineage cut without requiring a dir).  A frame whose plan is already
    a leaf (see :func:`_is_leaf`) comes back unchanged and starts no
    Spark job: checkpointing it again would copy data that every consumer
    can already read without recomputing anything.
    """
    if _is_leaf(df):
        return df
    if df.sparkSession.sparkContext.getCheckpointDir() is not None:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=True)
