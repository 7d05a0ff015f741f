"""Skew-stress bench: per-task straggler factor of a key-partitioned fold,
unsalted vs salted (r5 verdict #5 — the skew story must be MEASURED, not
asserted).

Fixture: a sequences table where ONE source holds ~50% of all rows (the
classic hot-key corpus). The measured operation is a per-source HLL fold
over a `repartition(P, key)` layout — the pattern any per-key stateful
stage (per-source sinks, per-key custom folds) executes. Note the engine's
own `sketch_agg` does NOT use this layout (it folds per scan partition and
shuffles only states, so it is skew-immune by construction); this bench
exercises the path where a per-key physical partitioning is genuinely
required and salting is the fix.

Paths:
  unsalted — repartition(P, source): the hot source's single task folds
             ~50% of all tokens → straggler ratio far above the gate
             (recorded as evidence the fixture actually skews).
  salted   — repartition(P, source, salt256): the hot key splits into
             256 sub-keys, each ~1/16 of a fair partition share, so the
             balls-into-bins variance of WHICH partition a sub-key hashes
             to stays small relative to the share (16 salts measured 3.9x
             p99/median — the sub-keys were fair-share-SIZED, so +-1 of
             them per partition was +-100% load); per-task times must
             satisfy p99/median ≤ 2.

Correctness cross-check: the per-source HLL estimates from both layouts
must agree EXACTLY (HLL merge is order/grouping-invariant), so the salted
plan is the same answer, just balanced.

Writes BENCH/skew.json, a standalone record; speed claims are perfbench
results (perfbench/run.py), not this script's.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import numpy as np
import pandas as pd

N_ROWS = int(os.environ.get("SKEW_ROWS", "600000"))
PARTS = 32
SALTS = 256
GATE = 2.0  # salted p99/median must stay under this


def _skewed(spark):
    """Deterministic hot-key table: ~50% of rows remapped to 'src_hot'."""
    from pyspark.sql import functions as F

    from bloomine_spark.datagen import generate_sequences

    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".data",
        f"skew_{N_ROWS}.parquet",
    )
    if not os.path.isdir(path):
        seqs = generate_sequences(spark, N_ROWS, partitions=64)
        seqs = seqs.withColumn(
            "source",
            F.when(
                F.pmod(F.xxhash64("doc_id"), F.lit(2)) == 0, F.lit("src_hot")
            ).otherwise(F.col("source")),
        )
        seqs.write.mode("overwrite").parquet(path)
    return spark.read.parquet(path)


def _fold_tasks(df):
    """Per-task HLL fold over whatever physical layout ``df`` has; one
    output row per (task, source): (pid, source, secs, rows, state)."""
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("pid", T.IntegerType()),
        T.StructField("source", T.StringType()),
        T.StructField("secs", T.DoubleType()),
        T.StructField("rows", T.LongType()),
        T.StructField("state", T.BinaryType()),
    ])

    def fold(batches):
        from pyspark import TaskContext

        from bloomine_spark.sketch.hll import HyperLogLog

        t0 = time.time()
        pid = TaskContext.get().partitionId()
        acc: dict[str, HyperLogLog] = {}
        rows: dict[str, int] = {}
        for pdf in batches:
            if len(pdf) == 0:
                continue
            for src, sub in pdf.groupby("source", sort=False):
                sk = acc.get(src)
                if sk is None:
                    sk = acc[src] = HyperLogLog.empty(12)
                sk.update_values(np.concatenate(list(sub["tokens"])))
                rows[src] = rows.get(src, 0) + len(sub)
        secs = time.time() - t0
        if acc:
            keys = sorted(acc)
            yield pd.DataFrame({
                "pid": [pid] * len(keys),
                "source": keys,
                "secs": [secs] * len(keys),
                "rows": [rows[k] for k in keys],
                "state": [acc[k].to_bytes() for k in keys],
            })

    return df.mapInPandas(fold, schema=schema)


def _estimates(rows):
    from bloomine_spark.sketch.hll import HyperLogLog

    merged: dict[str, HyperLogLog] = {}
    for r in rows:
        sk = HyperLogLog.from_bytes(r["state"])
        if r["source"] in merged:
            merged[r["source"]].merge(sk)
        else:
            merged[r["source"]] = sk
    return {s: round(sk.estimate(), 1) for s, sk in merged.items()}


def _task_stats(rows):
    # one secs sample per task (rows repeat secs per source within a task)
    per_task = {}
    for r in rows:
        per_task[r["pid"]] = max(per_task.get(r["pid"], 0.0), r["secs"])
    t = np.array(sorted(per_task.values()))
    return {
        "tasks": len(t),
        "median_sec": round(float(np.median(t)), 4),
        "p99_sec": round(float(np.percentile(t, 99)), 4),
        "max_sec": round(float(t[-1]), 4),
        "p99_over_median": round(float(np.percentile(t, 99) / max(np.median(t), 1e-9)), 2),
    }


def main():
    from pyspark.sql import functions as F

    from bloomine_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = get_spark(
        master=f"local[{cpus}]", app_name="skew-bench",
        shuffle_partitions=PARTS,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # AQE coalescing/skew-splitting would re-balance the exact
            # layout this bench exists to measure — pin it off so the
            # unsalted path shows the raw hot-key task
            "spark.sql.adaptive.enabled": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    df = _skewed(spark)

    # warm the python workers so task 0 isn't charged for spinup
    _fold_tasks(df.limit(2000)).collect()

    unsalted_rows = _fold_tasks(
        df.repartition(PARTS, "source")
    ).collect()
    salted_rows = _fold_tasks(
        df.repartition(
            PARTS, "source", F.pmod(F.xxhash64("doc_id"), F.lit(SALTS))
        )
    ).collect()

    un, sa = _task_stats(unsalted_rows), _task_stats(salted_rows)
    est_un, est_sa = _estimates(unsalted_rows), _estimates(salted_rows)
    hot_frac = df.filter(F.col("source") == "src_hot").count() / df.count()
    out = {
        "rows": N_ROWS,
        "hot_source_row_fraction": round(hot_frac, 4),
        "partitions": PARTS,
        "salts": SALTS,
        "unsalted": un,
        "salted": sa,
        "gate_salted_p99_over_median_max": GATE,
        "gate_pass": sa["p99_over_median"] <= GATE,
        "skew_visible_unsalted": un["p99_over_median"] > GATE,
        "estimates_identical": est_un == est_sa,
        "hot_estimate": est_un.get("src_hot"),
    }
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "skew.json"
    )
    with open(path, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(out, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
