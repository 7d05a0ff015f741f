"""Scale evidence for the similarity-search family (ANN).

The correctness gate compares IVF to brute force at 2k vectors; this
script evidences what decides 100 TB viability, with each claim measured
the way it actually holds:

* RECALL: the in-kernel ``ivf_topk`` (which computes exact cosines and
  masks unprobed cells — same math as the indexed path) holds recall@10
  >= 0.9 at every scale under aggressive pruning (nprobe/nlist = 12/64,
  assign=3 multi-assignment).
* I/O: the WIN of IVF is the materialized index — ``ivf_topk_indexed``
  reads ONLY probed cell partitions. For a point-lookup batch the
  executed plan must prune >= 50% of cells and the scanned ROW and BYTE
  fractions must stay near the query batch's nprobe/nlist union bound.
  Wall-clocks are REPORTED but not gated: at sandbox scale (<=300 MB)
  both scans are scheduling-dominated (BENCH/VARIANCE.md), so the
  transferable claim is the byte fraction — at 100 TB the pruned bytes
  are the wall-clock. (The in-kernel variant masks AFTER a full matmul,
  so it is deliberately NOT claimed as a compute win — only the index
  prunes I/O.)

Corpora: deterministic seeded gaussian mixture (C=64 clusters, d=64,
unit norm — the cluster structure real embedding tables have and IVF
exploits). Same generator and queries at three scale points. No external
data.

Writes BENCH/ANN_SCALE.md and prints one JSON line.

Usage: python BENCH/ann_scale.py [base_rows] [--no-report]
"""

from __future__ import annotations

import json
import os
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

D = 64
NLIST = 64
NPROBE = 12
ASSIGN = 2  # measured trade at 40k: (12,2) recall 0.938 @ 0.38x corpus
            # scanned; (8,3) ties it; assign=3 would 1.5x the index I/O
K = 10
N_QUERIES = 50        # recall measurement
N_IO_QUERIES = 1      # pruning/I-O measurement: a point lookup reads
                      # nprobe/nlist of the index and nothing else


def synth_embeddings(spark, n_rows: int, seed: int):
    """Deterministic unit-norm gaussian-mixture embeddings (C=64)."""
    import numpy as np
    import pandas as pd

    rng0 = np.random.default_rng(seed)
    centers = rng0.normal(size=(64, D))
    centers /= np.linalg.norm(centers, axis=1, keepdims=True)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            rng = np.random.default_rng(seed * 7 + int(ids[0]))
            c = rng.integers(0, 64, size=len(ids))
            v = centers[c] + 0.25 * rng.normal(size=(len(ids), D))
            v /= np.linalg.norm(v, axis=1, keepdims=True)
            yield pd.DataFrame(
                {"vec_id": ids, "embedding": list(v.astype(np.float64))}
            )

    return spark.range(0, n_rows, numPartitions=max(8, n_rows // 50_000)).mapInPandas(
        gen, schema="vec_id long, embedding array<double>"
    )


def _best_of(fn, reps=2):
    best = float("inf")
    for _ in range(reps):
        t0 = time.time()
        fn()
        best = min(best, time.time() - t0)
    return round(best, 2)


def measure(spark, n_rows: int, label: str, tmp_dir: str) -> dict:
    from bloomine_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    # corpus lives on PARQUET (both contenders read through the real scan
    # path — the I/O comparison is the point)
    path = os.path.join(tmp_dir, f"emb_{n_rows}")
    if not os.path.isdir(path):
        synth_embeddings(spark, n_rows, 5).write.parquet(path)
    emb = spark.read.parquet(path)
    out = {"label": label, "n_vectors": n_rows}
    rows = emb.filter(f"vec_id < {N_QUERIES}").collect()
    queries = [(int(r["vec_id"]), list(map(float, r["embedding"])))
               for r in rows]

    exact = {(r["query_id"], r["neighbor_id"])
             for r in brute_force_topk(emb, queries, k=K).collect()}
    out["brute_sec"] = _best_of(
        lambda: brute_force_topk(emb, queries, k=K).count()
    )

    cent = train_ivf_centroids(emb, nlist=NLIST)
    approx = {(r["query_id"], r["neighbor_id"])
              for r in ivf_topk(emb, queries, k=K, nlist=NLIST,
                                nprobe=NPROBE, centroids=cent,
                                assign=ASSIGN).collect()}
    out["ivf_recall_at_10"] = round(len(approx & exact) / len(exact), 4)

    # materialized index: REAL partition pruning for a small query batch
    idx = os.path.join(tmp_dir, f"ivf_idx_{n_rows}")
    write_ivf_index(emb, idx, nlist=NLIST, centroids=cent, assign=ASSIGN)
    io_queries = queries[:N_IO_QUERIES]
    got = ivf_topk_indexed(spark, idx, io_queries, k=K, nprobe=NPROBE)
    # probed cells computed the same deterministic way the query path
    # does (the plan prints IN/INSET with TRUNCATED value lists, so the
    # plan is only asserted to carry a partition filter at all)
    import numpy as np

    q_mat = np.array([q[1] for q in io_queries], dtype=np.float64)
    q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    q_cells = np.argsort(-(q_mat @ cent.T), axis=1)[:, :NPROBE]
    probed_cells = sorted({int(c) for row in q_cells for c in row})
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [cell#" in plan, plan[:400]
    out["cells_probed"] = len(probed_cells)
    out["cells_pruned_frac"] = round(1.0 - len(probed_cells) / NLIST, 3)
    # scanned-row fraction: probed-cell rows / (assign × corpus)
    from pyspark.sql import functions as F

    idx_df = spark.read.parquet(idx)
    probed_rows = idx_df.filter(F.col("cell").isin(probed_cells)).count()
    out["rows_scanned_frac"] = round(probed_rows / (ASSIGN * n_rows), 3)
    # byte-level evidence: size of the probed cells' parquet files vs the
    # whole index — the number that IS the wall-clock at lake scale
    def _dir_bytes(d):
        return sum(
            os.path.getsize(os.path.join(r, f))
            for r, _dd, fs in os.walk(d) for f in fs
            if f.endswith(".parquet")
        )

    total_b = _dir_bytes(idx)
    probed_b = sum(_dir_bytes(os.path.join(idx, f"cell={c}"))
                   for c in probed_cells)
    out["bytes_scanned_frac"] = round(probed_b / max(total_b, 1), 3)
    out["indexed_ivf_sec"] = _best_of(
        lambda: ivf_topk_indexed(spark, idx, io_queries, k=K,
                                 nprobe=NPROBE).count()
    )
    out["brute_small_batch_sec"] = _best_of(
        lambda: brute_force_topk(emb, io_queries, k=K).count()
    )
    return out


def main():
    write_report = "--no-report" not in sys.argv
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    base = int(args[0]) if args else 50_000
    import shutil
    import tempfile

    from bloomine_spark.session import get_spark

    spark = get_spark(shuffle_partitions=32, app_name="ann-scale",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")
    tmp_dir = tempfile.mkdtemp(prefix="bm_ann_scale_")
    # warm the JVM + python workers so scale point 1 isn't charged for it
    synth_embeddings(spark, 2000, 9).count()
    scales = [base, base * 4, base * 12]
    points = [
        measure(spark, s, f"{s:,}", tmp_dir) for s in scales
    ]
    shutil.rmtree(tmp_dir, ignore_errors=True)

    big = points[-1]
    recall_ok = all(p["ivf_recall_at_10"] >= 0.9 for p in points)
    prune_ok = big["cells_pruned_frac"] >= 0.5
    # scanned fraction must stay near the design point (≤ 1.2× headroom
    # over the query batch's union bound)
    frac_ok = big["rows_scanned_frac"] <= 1.2 * min(
        1.0, N_IO_QUERIES * NPROBE / NLIST
    )
    io_ok = big["bytes_scanned_frac"] <= 1.2 * min(
        1.0, N_IO_QUERIES * NPROBE / NLIST
    )
    ok = recall_ok and prune_ok and frac_ok and io_ok

    if write_report:
        lines = [
            "# BENCH/ANN_SCALE — IVF reads a corpus fraction while recall "
            "holds",
            "",
            "Deterministic gaussian-mixture embeddings (C=64, d=64, unit "
            "norm), same",
            f"generator at three scale points; exact brute-force cosine "
            f"top-{K} over",
            f"{N_QUERIES} queries is the recall oracle. IVF: nlist={NLIST}, "
            f"nprobe={NPROBE},",
            f"assign={ASSIGN} multi-assignment. All tables read from "
            "parquet — the",
            "index comparison is an I/O comparison, which is the claim "
            "that matters",
            "at 100 TB (the in-kernel variant masks after a full matmul "
            "and is NOT",
            "claimed as a compute win).",
            "",
            "| metric | " + " | ".join(p["label"] + " vecs" for p in points)
            + " |",
            "|---|" + "---|" * len(points),
        ]
        for kk in ("ivf_recall_at_10", "brute_sec", "cells_probed",
                   "cells_pruned_frac", "rows_scanned_frac",
                   "bytes_scanned_frac", "indexed_ivf_sec",
                   "brute_small_batch_sec"):
            lines.append("| " + kk + " | "
                         + " | ".join(str(p[kk]) for p in points) + " |")
        lines += [
            "",
            f"- **Recall ≥ 0.9 at every scale: "
            + ("PASS" if recall_ok else "FAIL") + "** ("
            + ", ".join(str(p["ivf_recall_at_10"]) for p in points)
            + f") under {NLIST // NPROBE}x cell pruning — multi-assignment "
            f"(assign={ASSIGN})",
            "  keeps boundary neighbors reachable without widening the "
            "probe.",
            f"- **Partition pruning at the largest scale: "
            + ("PASS" if prune_ok else "FAIL")
            + f"** — a {N_IO_QUERIES}-query batch probes "
            f"{big['cells_probed']}/{NLIST} cells "
            f"({big['cells_pruned_frac']:.0%} pruned), verified on the "
            "executed plan's",
            "  PartitionFilters (inputFiles() ignores pruning).",
            f"- **Scanned-row fraction: "
            + ("PASS" if frac_ok else "FAIL")
            + f"** — {big['rows_scanned_frac']:.1%} of index rows read vs "
            f"the {NPROBE}/{NLIST} = {NPROBE / NLIST:.1%} design point "
            "(gate ≤ 1.2×).",
            f"- **Byte fraction read by the indexed lookup: "
            + ("PASS" if io_ok else "FAIL")
            + f"** — {big['bytes_scanned_frac']:.1%} of the index's "
            f"parquet bytes (gate ≤ 1.2× the {NPROBE}/{NLIST} union "
            "bound). Wall-clocks are reported, not gated:",
            f"  at these sandbox sizes (≤~600 MB) both scans are "
            "scheduling-dominated",
            f"  ({big['indexed_ivf_sec']}s indexed vs "
            f"{big['brute_small_batch_sec']}s brute at the largest point "
            "— fixed per-job overhead",
            "  swamps a sub-second scan; BENCH/VARIANCE.md). At lake "
            "scale the byte",
            "  fraction IS the wall-clock: the pruned cells are never "
            "read from",
            "  storage, per the executed plan's PartitionFilters.",
        ]
        with open(os.path.join(REPO, "BENCH", "ANN_SCALE.md"), "w") as f:
            f.write("\n".join(lines) + "\n")
    print(json.dumps({"points": points, "recall_ok": recall_ok,
                      "prune_ok": prune_ok, "frac_ok": frac_ok,
                      "io_ok": io_ok, "pass": ok}))
    spark.stop()
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
