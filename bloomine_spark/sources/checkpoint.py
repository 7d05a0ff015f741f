"""Per-partition sketch checkpointing with lineage + metrics, and
resume-from-checkpoint — the distributed generalization of the reference's
output-existence stage skip (/root/reference/bloomine/BloomineRunner.py:170-190).

A checkpointed aggregation persists one row per input partition:
(partition_id, sketch_state, rows, n_values, secs). Each row comes from the
ungrouped case of the sketch partial fold (``sketch.core.fold_partition``)
run as one ``mapInArrow`` node over the value column alone. The checkpoint
is read back with the known ``LINEAGE_SCHEMA`` (no schema-inference job):
one collect of (partition_id, sketch_state) gives the checkpointed ids and
their states. Resuming folds ONLY the missing partitions (the same node
yields nothing for the others), appends them, collects again, and merges
the first state of each partition id in partition-id order — the order
``sketch_agg_global`` merges in, so both give the same state. A fresh run
is two jobs (write, collect), a fully resumed one a single collect. The
append is one write job, and a job that fails commits none of its
partitions: the skip saves work when checkpointed rows survive, not yet
for a job that died midway. Partition ids are stable as long as the input
files and maxPartitionBytes are unchanged (documented invariant).
"""

from __future__ import annotations

import os
import time
from typing import Callable

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from bloomine_spark.sketch.core import _merge_states, fold_partition
from bloomine_spark.sources.stages import _hadoop_path

LINEAGE_SCHEMA = T.StructType(
    [
        T.StructField("partition_id", T.IntegerType()),
        T.StructField("sketch_state", T.BinaryType()),
        T.StructField("rows", T.LongType()),
        T.StructField("n_values", T.LongType()),
        T.StructField("secs", T.DoubleType()),
    ]
)


def _lineage_kernel(value_col, factory, skip=frozenset(), fail=frozenset()):
    """mapInArrow kernel: one sketch state + metrics per partition; yields
    nothing for partitions in ``skip`` and raises in those in ``fail``."""

    def kernel(batches):
        import pyarrow as pa
        from pyspark import TaskContext

        pid = TaskContext.get().partitionId()
        if pid in skip:
            return
        if pid in fail:
            raise RuntimeError(f"injected failure in partition {pid}")
        t0 = time.time()
        states, rows, n_values = fold_partition(batches, [], value_col, factory)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array([pid], type=pa.int32()),
                states.column(0),
                pa.array([rows], type=pa.int64()),
                pa.array([n_values], type=pa.int64()),
                pa.array([round(time.time() - t0, 4)], type=pa.float64()),
            ],
            names=LINEAGE_SCHEMA.names,
        )

    return kernel


def partials_with_lineage(
    df: DataFrame, value_col: str, factory: Callable[[], object]
) -> DataFrame:
    """One sketch state per partition + per-partition metrics."""
    return df.select(value_col).mapInArrow(
        _lineage_kernel(value_col, factory), schema=LINEAGE_SCHEMA
    )


def checkpoint_dir(base: str, run_id: str, stage: str) -> str:
    return os.path.join(base, run_id, stage)


def _checkpointed_states(spark, path: str) -> dict[int, bytes]:
    """{partition_id: sketch_state} of the checkpoint at ``path``, first
    row per id, from one collect. Existence is checked through the Hadoop
    FileSystem, so ``file://``, ``hdfs://`` and ``s3a://`` paths resume
    like local ones."""
    fs, p, _ = _hadoop_path(spark, path)
    if not fs.exists(p):
        return {}
    rows = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(path)
        .select("partition_id", "sketch_state").collect()
    )
    states: dict[int, bytes] = {}
    for pid, state in rows:
        states.setdefault(pid, bytes(state))
    return states


def checkpointed_sketch_agg(
    df: DataFrame,
    value_col: str,
    factory: Callable[[], object],
    base_dir: str,
    run_id: str,
    stage: str,
    fail_partitions: set[int] | None = None,
):
    """Global sketch aggregation with per-partition checkpoint + resume.

    Returns (sketch, lineage_df); ``lineage_df`` is lazy (one row per
    partition id). On a rerun with the same (run_id, stage), partitions
    already checkpointed are skipped — only missing ones compute.
    ``fail_partitions`` makes those partitions' tasks raise (test hook).
    The append is one write job, so a failed job commits none of its
    partitions: a rerun recomputes every one missing before the failure.
    """
    spark = df.sparkSession
    path = checkpoint_dir(base_dir, run_id, stage)

    states = _checkpointed_states(spark, path)
    if set(range(df.rdd.getNumPartitions())) - states.keys():
        # recompute only missing partitions; partition ids are stable for
        # unchanged input files
        kernel = _lineage_kernel(
            value_col, factory, frozenset(states), frozenset(fail_partitions or ())
        )
        (
            df.select(value_col).mapInArrow(kernel, schema=LINEAGE_SCHEMA)
            .write.mode("append").parquet(path)
        )
        states = _checkpointed_states(spark, path)

    blob = _merge_states([states[pid] for pid in sorted(states)], factory)
    lineage = (
        spark.read.schema(LINEAGE_SCHEMA).parquet(path)
        .dropDuplicates(["partition_id"])
    )
    return type(factory()).from_bytes(blob), lineage
