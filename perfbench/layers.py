"""Driver-side throughput of single kernels on one batch of workload data:
the k-gram hash, the Bloom probe and each sketch's update."""

from __future__ import annotations

import glob
import gzip
import os
import statistics
import time

import numpy as np

BATCH_TOKENS = 1 << 20
TDIGEST_BATCH = 1 << 15  # the t-digest folds ~1e5 values/s; keep its timing short
REPEATS = 5


def workload_batch(in_dir: str, kind: str) -> np.ndarray:
    """About ``BATCH_TOKENS`` tokens of the workload's own input (int32)."""
    if kind == "fastq":
        from bloomine_spark.sources.fastq import parse_fastq_flat

        path = sorted(glob.glob(os.path.join(in_dir, "*.fastq.gz")))[0]
        with open(path, "rb") as fh:
            flat = parse_fastq_flat(gzip.decompress(fh.read()))[1]
    else:
        import pyarrow.parquet as pq

        path = sorted(glob.glob(os.path.join(in_dir, "*.parquet")))[0]
        col = pq.read_table(path, columns=["tokens"]).column("tokens")
        flat = col.combine_chunks().values.to_numpy()
    return np.ascontiguousarray(flat[:BATCH_TOKENS], dtype=np.int32)


def _rate(fn, n_items: int) -> float:
    """Items per second of ``fn()``: the median of ``REPEATS`` timings."""
    times = []
    for _ in range(REPEATS):
        t0 = time.perf_counter()
        fn()
        times.append(time.perf_counter() - t0)
    return n_items / statistics.median(times)


def kernel_rates(flat: np.ndarray, target: list[int]) -> dict[str, float]:
    """Items per second of the k-gram hash, the Bloom probe (both over every
    7-gram window of ``flat``) and each sketch's update (the workload's own
    sketch configurations)."""
    from bloomine_spark.functions.hashing import rolling_kgram_hash
    from bloomine_spark.operators.screen import prepare_target
    from workloads import composite_factory, tdigest_factory

    ctx = prepare_target(target)
    u64 = flat.astype(np.uint64)
    n_win = len(flat) - ctx.k + 1
    hashes = rolling_kgram_hash(u64, n_win, ctx.k)
    bloom = ctx.bloom
    out = {
        "functions.hashing.kgram_hash_per_s":
            _rate(lambda: rolling_kgram_hash(u64, n_win, ctx.k), n_win),
        "sketch.bloom.probe_per_s":
            _rate(lambda: bloom.contains_hashes(hashes), n_win),
    }
    # CompositeSketch member order, see workloads.composite_factory
    for i, name in enumerate(("hll", "cms", "kll", "theta")):
        out[f"sketch.{name}.update_per_s"] = _rate(
            lambda i=i: composite_factory().sketches[i].update_values(flat),
            len(flat))
    batch = flat[:TDIGEST_BATCH]
    out["sketch.tdigest.update_per_s"] = _rate(
        lambda: tdigest_factory().update_values(batch), len(batch))
    return out
