"""Job and plan shape of the sketch aggregations: how many Spark jobs each
call runs, which columns its scan reads, and that the fan-in tree merge
equals a local fold."""

import itertools

import numpy as np
import pytest

from bloomine_spark.datagen import generate_rows
from bloomine_spark.plans.audit import assert_columns_pruned
from bloomine_spark.sketch.cms import CountMinSketch
from bloomine_spark.sketch.core import (
    CompositeSketch,
    _merge_states,
    sketch_agg_global,
    sketch_partials,
    tree_merge_global,
)
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sketch.kll import KLL
from bloomine_spark.sketch.tdigest import TDigest
from bloomine_spark.sketch.theta import ThetaSketch
from bloomine_spark.sources.checkpoint import (
    checkpointed_sketch_agg,
    partials_with_lineage,
)

_groups = itertools.count()


@pytest.fixture(scope="module")
def seq_pdf():
    return generate_rows(np.arange(2000), seed=11)


@pytest.fixture(scope="module")
def seq_path(spark, seq_pdf, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("seqs"))
    spark.createDataFrame(seq_pdf).repartition(8).write.mode("overwrite").parquet(d)
    return d


# a lambda, so executors get it by value (they cannot import this module)
composite = lambda: CompositeSketch([  # noqa: E731
    HyperLogLog.empty(12), CountMinSketch.empty(1e-3, 1e-3), KLL(k=200),
    ThetaSketch.empty(4096),
])


def run_counting_jobs(spark, fn):
    """(fn(), number of Spark jobs it ran)."""
    sc = spark.sparkContext
    group = f"sketch-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_global_agg_is_one_job(spark, seq_path):
    df = spark.read.parquet(seq_path)
    assert df.rdd.getNumPartitions() <= 64
    sk, jobs = run_counting_jobs(
        spark, lambda: sketch_agg_global(df, "tokens", composite)
    )
    assert jobs == 1
    _, jobs = run_counting_jobs(
        spark, lambda: sketch_agg_global(df, "n_tok", lambda: TDigest(100.0))
    )
    assert jobs == 1
    assert sk.sketches[1].n == df.selectExpr("sum(size(tokens))").head()[0]


def test_checkpoint_job_counts(spark, seq_path, tmp_path):
    df = spark.read.parquet(seq_path)
    base = str(tmp_path)
    (fresh, _), jobs = run_counting_jobs(
        spark, lambda: checkpointed_sketch_agg(df, "tokens", composite, base, "r", "s")
    )
    assert jobs == 2
    (resumed, lineage), jobs = run_counting_jobs(
        spark, lambda: checkpointed_sketch_agg(df, "tokens", composite, base, "r", "s")
    )
    assert jobs <= 2
    assert resumed.to_bytes() == fresh.to_bytes()
    assert lineage.count() == df.rdd.getNumPartitions()


def test_partial_folds_read_only_their_columns(spark, seq_path, tmp_path, monkeypatch):
    """mapInArrow cannot prune its input: the select in front of it must,
    so a fold of the scalar n_tok never reads the token lists."""
    from pyspark.sql.readwriter import DataFrameWriter

    df = spark.read.parquet(seq_path)
    factory = lambda: TDigest(100.0)  # noqa: E731
    forbidden = {"tokens", "doc_id"}
    assert_columns_pruned(sketch_partials(df, [], "n_tok", factory), forbidden)
    assert_columns_pruned(partials_with_lineage(df, "n_tok", factory), forbidden)
    written = []
    write_parquet = DataFrameWriter.parquet

    def spy(self, *args, **kwargs):
        written.append(self._df)
        return write_parquet(self, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", spy)
    checkpointed_sketch_agg(df, "n_tok", factory, str(tmp_path), "r", "n_tok")
    (plan,) = written
    assert_columns_pruned(plan, forbidden)


def _local_tree(states, factory, fanin):
    """The fixed fan-in tree: merge consecutive runs of ``fanin`` states in
    partition order, round by round."""
    while len(states) > fanin:
        states = [
            _merge_states(states[i : i + fanin], factory)
            for i in range(0, len(states), fanin)
        ]
    return _merge_states(states, factory)


@pytest.mark.parametrize("n_parts", [8, 17])
@pytest.mark.parametrize(
    "factory",
    [lambda: HyperLogLog.empty(12), lambda: CountMinSketch.empty(1e-2, 1e-2)],
    ids=["hll", "cms"],
)
def test_tree_merge_above_fanin_equals_local_fold(spark, seq_path, seq_pdf, factory, n_parts):
    df = spark.read.parquet(seq_path).repartition(n_parts)
    partials = sketch_partials(df, [], "tokens", factory)
    assert partials.rdd.getNumPartitions() == n_parts
    local = factory()
    local.update_values(np.concatenate(seq_pdf["tokens"].to_list()))
    assert tree_merge_global(partials, factory, fanin=2) == local.to_bytes()


def test_tree_merge_order_is_the_fixed_tree(spark, seq_path):
    """KLL merges are order-sensitive: the rounds above fanin merge each
    bucket in partition order, so the state equals a local fold over the
    same tree."""
    df = spark.read.parquet(seq_path).repartition(17).cache()
    factory = lambda: KLL(k=16)  # noqa: E731
    partials = sketch_partials(df, [], "tokens", factory)
    states = [bytes(r[0]) for r in partials.collect()]
    assert len(states) == 17
    assert tree_merge_global(partials, factory, fanin=2) == _local_tree(states, factory, 2)
    assert tree_merge_global(partials, factory, fanin=4) == _local_tree(states, factory, 4)
    df.unpersist()
