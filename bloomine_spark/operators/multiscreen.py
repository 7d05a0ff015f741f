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

``screen_flank_pairs`` screens both flanks of every probe in that one
pass; ``polyfamily_onepass`` runs the flank-pair log (J1) and the probe
argmax (W1) of ``operators.cascade`` on it: 1 scan instead of the
reference's 2 × n_probes (reference bloomine/polyfamily.py).
"""

from __future__ import annotations

from typing import Sequence

import numpy as np
from pyspark.sql import DataFrame

from bloomine_spark.operators.cascade import (
    best_flank_pairs,
    flank_pair_scores,
    flank_pair_targets,
)
from bloomine_spark.operators.screen import (
    TargetContext,
    _screen_plan,
    prepare_target,
)
from bloomine_spark.params import ScreenParams


def prepare_targets(
    targets: dict[str, Sequence[int]],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> dict[str, TargetContext]:
    return {
        tid: prepare_target(toks, params, complement_map)
        for tid, toks in sorted(targets.items())
    }


def _scored_plan(
    df: DataFrame,
    ctxs: dict[str, TargetContext],
    params: ScreenParams,
    complement_map: np.ndarray | None,
    tokens_col: str = "tokens",
    rc_retry: bool = True,
) -> DataFrame:
    """The scored multi-target screen over prepared contexts."""
    return _screen_plan(
        df, ctxs, params.k, complement_map, tokens_col, mode="scored",
        rc_retry=rc_retry, keep_tokens=False,
    )


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
    return _scored_plan(df, ctxs, params, complement_map, tokens_col, rc_retry)


def screen_flank_pairs(
    df: DataFrame,
    probes: dict[str, tuple],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> tuple[DataFrame, dict[str, float]]:
    """Both flanks of every probe ({probe_id: (flank1, flank2)}) screened
    in one data pass: the ``screen_multi_scores`` log over the
    ``flank_pair_targets`` ids, and each flank's MST by the same ids — the
    inputs of ``operators.cascade.flank_pair_scores``. Each flank's
    context is prepared once and serves both."""
    ctxs = prepare_targets(flank_pair_targets(probes), params, complement_map)
    scores = _scored_plan(df, ctxs, params, complement_map)
    return scores, {tid: ctx.mst for tid, ctx in ctxs.items()}


def polyfamily_onepass(
    df: DataFrame,
    probes: dict[str, tuple],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Polyfamily (flank-pair log J1 → argmax W1) with ONE corpus scan.

    Same result as operators.cascade.polyfamily_run (the cascade is only a
    work-saving device, and a read passes J1 exactly when both flanks'
    best scores clear their thresholds, J2's intersection), but scans the
    data once for all probes × flanks. Read keys are (source, doc_id)
    when a source column exists. Only rows that clear their flank's MST
    enter J1: a flank passes iff one of its rows does, and its best is
    then the best passing row, so W1 is unchanged by the filter.
    """
    scores, thresholds = screen_flank_pairs(df, probes, params, complement_map)
    return best_flank_pairs(
        flank_pair_scores(scores.filter("sp_pass"), thresholds))
