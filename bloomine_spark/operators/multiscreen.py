"""One-pass multi-target screening.

The reference screens probes sequentially — each (sample, probe) pair
re-reads the whole FASTQ (/root/reference/bloomine/run.py:26-61). At 100 TB
the scan dominates, so this operator screens EVERY target in a single pass:
window codes (or, off the window-table path, window hashes) are computed
once per batch slice and each target then pays only its own table gather
(or Bloom probes) and its own survivors' scoring. It runs the screen's one
kernel (``screen.make_screen_kernel``); ``screen_scores`` is the
one-target case of the same plan.

Output is a long-format score log: one row per (FP-surviving row, target),
columns (passthrough..., target_id, rc, fp_hits, score, threshold, sp_pass)
— the multi-probe analog of the reference's per-run flank_scores.tsv.

``polyfamily_onepass`` rebuilds the reference polyfamily pipeline
(flank intersection J2 → argmax W1, /root/reference/bloomine/polyfamily.py)
on top of it: all probes' both flanks screened in ONE scan instead of
2 × n_probes scans.
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bloomine_spark.operators.screen import (
    TargetContext,
    _screen_plan,
    prepare_target,
)
from bloomine_spark.params import ScreenParams

_SEP = "\t"  # probe-id / flank separator inside composite target ids


def prepare_targets(
    targets: dict[str, Sequence[int]],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> dict[str, TargetContext]:
    return {
        tid: prepare_target(toks, params, complement_map)
        for tid, toks in sorted(targets.items())
    }


def screen_multi_scores(
    df: DataFrame,
    targets: dict[str, Sequence[int]],
    params: ScreenParams = ScreenParams(),
    tokens_col: str = "tokens",
    rc_retry: bool = True,
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Score log for ALL targets from one data pass (scored verify)."""
    ctxs = prepare_targets(targets, params, complement_map)
    return _screen_plan(
        df, ctxs, params.k, complement_map, tokens_col, mode="scored",
        rc_retry=rc_retry, keep_tokens=False,
    )


def polyfamily_onepass(
    df: DataFrame,
    probes: dict[str, tuple],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Polyfamily (J2 flank intersection → W1 argmax) with ONE corpus scan.

    Semantically identical to operators.cascade.polyfamily_run (the cascade
    is only a work-saving device; the flank intersection ANDs both flanks
    anyway), but scans the data once for all probes × flanks.
    """
    from bloomine_spark.operators.cascade import choose_best_probes

    flat_targets = {}
    for tid, (f1, f2) in sorted(probes.items()):
        flat_targets[tid + _SEP + "1"] = f1
        flat_targets[tid + _SEP + "2"] = f2

    scores = screen_multi_scores(df, flat_targets, params,
                                 complement_map=complement_map)
    # read ids are only unique per sample: key every stage on (source,
    # doc_id) when a source column exists so colliding ids from different
    # samples never merge (same rule as run_grid hydration)
    keys = ["source", "doc_id"] if "source" in df.columns else ["doc_id"]
    parts = F.split(F.col("target_id"), _SEP)
    scored = (
        scores.filter(F.col("sp_pass"))
        .select(
            *keys,
            parts.getItem(0).alias("probe_id"),
            parts.getItem(1).alias("flank"),
            "score",
        )
        .groupBy(*keys, "probe_id")
        .agg(
            F.max(F.when(F.col("flank") == "1", F.col("score"))).alias("f1_best"),
            F.max(F.when(F.col("flank") == "2", F.col("score"))).alias("f2_best"),
        )
        .filter(F.col("f1_best").isNotNull() & F.col("f2_best").isNotNull())
        .select(
            *keys,
            F.col("probe_id").alias("target_id"),
            (F.col("f1_best") + F.col("f2_best")).cast("long").alias("total_score"),
        )
    )
    return choose_best_probes(scored)
