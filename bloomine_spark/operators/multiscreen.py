"""One-pass multi-target screening.

The reference screens probes sequentially — each (sample, probe) pair
re-reads the whole FASTQ (/root/reference/bloomine/run.py:26-61). At 100 TB
the scan dominates, so this operator screens EVERY target in a single pass:
window codes (or, off the window-table path, window hashes) are computed
once per batch slice and each target then pays only its own table gather
(or Bloom probes) and its own survivors' scoring.

Output is a long-format score log: one row per (FP-surviving row, target),
columns (passthrough..., target_id, rc, fp_hits, score, threshold, sp_pass)
— the multi-probe analog of the reference's per-run flank_scores.tsv.

``polyfamily_onepass`` rebuilds the reference polyfamily pipeline
(flank intersection J2 → argmax W1, /root/reference/bloomine/polyfamily.py)
on top of it: all probes' both flanks screened in ONE scan instead of
2 × n_probes scans.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.operators.screen import (
    FlatWindows,
    TargetContext,
    TargetWindows,
    prepare_target,
    prescreen,
    score_survivors,
    window_radix,
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


def make_multi_screen_kernel(
    ctx_bc,  # Broadcast[dict[str, TargetContext]]
    tokens_col: str,
    passthrough: list[str],
    rc_retry: bool,
    k: int,
    complement_map: np.ndarray | None = None,
):
    """Build the mapInArrow function of ``screen_multi_scores``."""
    import pyarrow as pa

    from bloomine_spark.functions.kgrams import (
        iter_cache_slices,
        raw_list_values,
        token_batch_from_arrow,
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        ctx_map: dict[str, TargetContext] = ctx_bc.value
        for rb0 in batches:
            if rb0.num_rows == 0:
                continue
            radix = window_radix(
                raw_list_values(rb0, tokens_col), k, complement_map
            )
            # cache-blocking row slices (see screen.py): per-row logic only,
            # so slicing is semantics-free
            for rb in iter_cache_slices(rb0, tokens_col):
                if rb.num_rows:
                    out = _slice(rb, ctx_map, radix)
                    if out is not None:
                        yield out

    def _slice(rb, ctx_map, radix):
        n = rb.num_rows
        batch = token_batch_from_arrow(rb, tokens_col)
        # window codes (or hashes) computed ONCE, shared by every target
        win = FlatWindows(batch, k, complement_map, radix)
        frames: list[dict] = []
        for tid, ctx in ctx_map.items():
            tw = TargetWindows(win, ctx)
            fp_f, fp_r, fp_hits = prescreen(tw, n, rc_retry)
            fp_any = fp_f | fp_r
            if not fp_any.any():
                continue
            scores = np.zeros(n, dtype=np.int64)
            score_survivors(tw, fp_f, False, scores, ctx.params)
            score_survivors(tw, fp_r, True, scores, ctx.params)
            sp_pass = fp_any & (scores >= ctx.mst)
            idx = np.flatnonzero(fp_any)
            frames.append(
                {
                    "idx": idx,
                    "target_id": tid,
                    "rc": fp_r[idx],
                    "fp_hits": fp_hits[idx].astype(np.int32),
                    "score": scores[idx],
                    "threshold": float(ctx.mst),
                    "sp_pass": sp_pass[idx],
                }
            )
        if not frames:
            return None
        sizes = [len(f["idx"]) for f in frames]
        take = pa.array(np.concatenate([f["idx"] for f in frames]))
        cols = {c: rb.column(rb.schema.get_field_index(c)).take(take)
                for c in passthrough}
        cols["target_id"] = pa.array(
            np.repeat(
                np.array([f["target_id"] for f in frames], dtype=object),
                sizes,
            ).tolist(),
            type=pa.string(),
        )
        cols["rc"] = pa.array(np.concatenate([f["rc"] for f in frames]))
        cols["fp_hits"] = pa.array(np.concatenate([f["fp_hits"] for f in frames]))
        cols["score"] = pa.array(
            np.concatenate([f["score"] for f in frames]).astype(np.int64)
        )
        cols["threshold"] = pa.array(
            np.repeat(np.array([f["threshold"] for f in frames]), sizes)
        )
        cols["sp_pass"] = pa.array(np.concatenate([f["sp_pass"] for f in frames]))
        return pa.RecordBatch.from_pydict(cols)

    return kernel


def screen_multi_scores(
    df: DataFrame,
    targets: dict[str, Sequence[int]],
    params: ScreenParams = ScreenParams(),
    tokens_col: str = "tokens",
    rc_retry: bool = True,
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Score log for ALL targets from one data pass (scored verify)."""
    spark = df.sparkSession
    ctxs = prepare_targets(targets, params, complement_map)
    ctx_bc = spark.sparkContext.broadcast(ctxs)

    passthrough = [f.name for f in df.schema.fields if f.name != tokens_col]
    fields = [f for f in df.schema.fields if f.name != tokens_col]
    fields += [
        T.StructField("target_id", T.StringType()),
        T.StructField("rc", T.BooleanType()),
        T.StructField("fp_hits", T.IntegerType()),
        T.StructField("score", T.LongType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("sp_pass", T.BooleanType()),
    ]
    kernel = make_multi_screen_kernel(
        ctx_bc, tokens_col, passthrough, rc_retry, params.k, complement_map
    )
    return df.mapInArrow(kernel, schema=T.StructType(fields))


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
