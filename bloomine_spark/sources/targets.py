"""Targets (flank-pair) table handling — the analog of the reference's
multifasta probe splitting (/root/reference/bloomine/utilities.py:62-96) and
its exactly-two-flanks-per-target invariant
(/root/reference/bloomine/BloomineRunner.py:148-167).

targets(target_id string, flank int, tokens array<int32>)
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TARGETS_SCHEMA = T.StructType(
    [
        T.StructField("target_id", T.StringType(), False),
        T.StructField("flank", T.IntegerType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
    ]
)


class MalformedTargetsError(ValueError):
    pass


def targets_df(
    spark: SparkSession, targets: dict[str, tuple[Sequence[int], Sequence[int]]]
) -> DataFrame:
    """Build a targets table from {target_id: (flank1_tokens, flank2_tokens)}."""
    rows = []
    for tid, flanks in targets.items():
        for i, fl in enumerate(flanks, start=1):
            rows.append((tid, i, [int(t) for t in fl]))
    return spark.createDataFrame(rows, TARGETS_SCHEMA)


def validate_targets(targets: DataFrame, min_len: int = 1) -> dict[str, tuple]:
    """Validate and collect the (small) targets table to the driver.

    Errors on any target without exactly flanks {1, 2} — the reference
    aborts on malformed flank pairs (BloomineRunner.py:153-154) — or with a
    flank shorter than min_len (k).
    """
    rows = targets.collect()
    by_target: dict[str, dict[int, list[int]]] = {}
    for r in rows:
        by_target.setdefault(r["target_id"], {})[int(r["flank"])] = list(r["tokens"])
    out = {}
    for tid, flanks in sorted(by_target.items()):
        if set(flanks.keys()) != {1, 2}:
            raise MalformedTargetsError(
                f"target {tid!r} must have exactly flanks 1 and 2, got "
                f"{sorted(flanks.keys())}"
            )
        if any(len(fl) < min_len for fl in flanks.values()):
            raise MalformedTargetsError(
                f"target {tid!r} has a flank shorter than {min_len}"
            )
        out[tid] = (flanks[1], flanks[2])
    return out


def low_complexity_targets(targets: DataFrame, k: int) -> DataFrame:
    """Targets whose flank has <50% unique k-grams — the reference's
    Bloom-FP blowup warning (/root/reference/src/utilities.hpp:89-99), as a
    relational check over the targets table."""
    n_windows = F.greatest(F.size("tokens") - F.lit(k - 1), F.lit(0))
    uniq = F.size(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("tokens") - k),
                lambda i: F.slice("tokens", i + 1, k),
            )
        )
    )
    return (
        targets.filter(F.size("tokens") >= k)
        .withColumn("n_kgrams", n_windows)
        .withColumn("n_unique", uniq)
        .filter(F.col("n_unique") * 2 < F.col("n_kgrams"))
        .select("target_id", "flank", "n_kgrams", "n_unique")
    )
