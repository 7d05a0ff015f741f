"""Z-order layout: Morton interleave correctness and the layout
rewrite's partition structure."""

import pytest
from pyspark.sql import functions as F

from bloomine_spark.operators.zorder import z_value, zorder_layout


def _morton(x, y, bits):
    out = 0
    for b in range(bits):
        out |= ((x >> b) & 1) << (2 * b)
        out |= ((y >> b) & 1) << (2 * b + 1)
    return out


def test_z_value_matches_python_replay(spark):
    rows = [(x, y) for x in (0, 1, 2, 3, 513, 1023)
            for y in (0, 1, 7, 512, 1023)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", z_value(["x", "y"], bits=10).alias("z")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == _morton(x, y, 10), (x, y)


def test_z_value_locality(spark):
    # neighbors in the grid are close in z; opposite corners are far
    df = spark.createDataFrame(
        [(0, 0), (1, 1), (1023, 1023)], ["x", "y"]
    )
    z = [r["z"] for r in df.select(
        z_value(["x", "y"], bits=10).alias("z")).collect()]
    assert z[1] - z[0] == 3 and z[2] == (1 << 20) - 1


def test_z_value_validation(spark):
    with pytest.raises(ValueError):
        z_value(["x"], bits=10)
    with pytest.raises(ValueError):
        z_value(["x", "y", "w", "v"], bits=16)  # 64 bits > long


def test_zorder_layout_partitions_are_z_ranges(spark):
    df = spark.range(4096).select(
        (F.col("id") % 64).alias("x"),
        (F.col("id") / 64).cast("long").alias("y"),
        F.col("id").alias("payload"),
    )
    out = zorder_layout(df, ["x", "y"], bits=6, n_files=8)
    assert out.count() == 4096  # nothing dropped
    # every partition covers a contiguous, non-overlapping z range
    parts = (
        out.withColumn("pid", F.spark_partition_id())
        .groupBy("pid")
        .agg(F.min("__z").alias("lo"), F.max("__z").alias("hi"),
             F.count("*").alias("n"))
        .orderBy("lo")
        .collect()
    )
    assert sum(p["n"] for p in parts) == 4096
    for prev, cur in zip(parts, parts[1:]):
        assert prev["hi"] <= cur["lo"]


def test_zorder_layout_null_and_constant_dims(spark):
    df = spark.createDataFrame(
        [(None, 5), (1, 5), (2, 5)], ["x", "y"]
    )
    out = zorder_layout(df, ["x", "y"], bits=4, n_files=2)
    assert out.count() == 3  # NULL x maps to cell 0, row kept
    with pytest.raises(ValueError):
        zorder_layout(df, ["x", "y"], bits=0)

