"""Scaling evidence for the round-6 analytics tail (temporal/event ops,
corpus analytics): the same job on the same input at two
parallelism levels (N vs 4N cores — the sandbox stand-in for N vs 4N
executors, north-rule protocol), methodology of BENCH/quality_scale.py
(paired back-to-back subprocesses per job, pinned leaf splits, pinned
GC threads, best-of-reps). Separate record — fingerprinted kernel
campaigns untouched.

Fixtures (all pure-codegen, deterministic xxhash64 content):
* docs    — the shared 40-words-from-50k-vocab documents parquet
* events  — (user_id, ts, event_type) rows over a 30-day window

Writes BENCH/ANALYTICS_SCALE.md + BENCH/analytics_scale.json and prints
one JSON line.

Usage: python BENCH/analytics_scale.py [n_docs] [base_cores]
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

JOBS = [
    "jvm_control_explode_count",
    "asof_join",
    "window_funnel",
    "collocations",
    "phrase_search",
]
CONTROLS = {"jvm_control_explode_count"}

WORKER = r"""
import json, sys, time
sys.path.insert(0, {repo!r})
from pyspark.sql import functions as F
from bloomine_spark.session import get_spark

cores = int(sys.argv[1])
size = int(sys.argv[2])
job = sys.argv[3]
reps = int(sys.argv[4])
spark = get_spark(master=f"local[{{cores}}]", shuffle_partitions=64,
                  app_name=f"analyticsscale-{{cores}}-{{job}}",
                  extra_conf={{
                      "spark.sql.files.maxPartitionBytes": "512m",
                      "spark.sql.files.minPartitionNum": "64",
                      "spark.driver.extraJavaOptions":
                          f"-XX:ParallelGCThreads={{cores}} -XX:ConcGCThreads={{max(1, cores // 4)}}",
                  }})
spark.sparkContext.setLogLevel("ERROR")
import os

DOC_JOBS = {{"jvm_control_explode_count", "collocations", "phrase_search"}}

if job in DOC_JOBS:
    path = {repo!r} + f"/.data/tokdocs_{{size}}.parquet"
    if not os.path.isdir(path):
        (spark.range(0, size, numPartitions=64)
            .select(
                F.concat(F.lit("s"), (F.col("id") % 10).cast("string"))
                 .alias("source"),
                F.col("id").alias("doc_id"),
                F.expr("concat_ws(' ', transform(sequence(1, 40),"
                       " j -> concat('w', pmod(xxhash64(id, j), 50000))))")
                 .alias("text"),
            )
            .write.mode("overwrite").parquet(path))
    docs = spark.read.parquet(path)
    n_rows = size * 40  # tokens
else:
    path = {repo!r} + f"/.data/scaleevents_{{size}}.parquet"
    if not os.path.isdir(path):
        (spark.range(0, size, numPartitions=64)
            .select(
                F.pmod(F.xxhash64("id", F.lit(1)), F.lit(50000))
                 .alias("user_id"),
                F.expr("timestamp_seconds(1704067200"
                       " + pmod(xxhash64(id, 2), 2592000))").alias("ts"),
                F.expr("element_at(array('view','click','purchase',"
                       "'signup'), cast(pmod(xxhash64(id, 3), 4) + 1"
                       " as int))").alias("event_type"),
            )
            .write.mode("overwrite").parquet(path))
    events = spark.read.parquet(path)
    n_rows = size

from bloomine_spark.operators.collocations import collocation_scores
from bloomine_spark.operators.retrieval import phrase_search
from bloomine_spark.operators.temporal import asof_join, window_funnel

FNS = {{
    "jvm_control_explode_count":
        lambda: docs.select(F.explode(F.split("text", " ")).alias("t"))
                .filter(F.col("t") != "").agg(F.count("*")).head(),
    "asof_join": lambda: asof_join(
        events.filter(F.col("event_type") == "click")
              .select("user_id", "ts"),
        events.filter(F.col("event_type") == "view")
              .select("user_id", F.col("ts").alias("vts"),
                      F.col("event_type").alias("vtype")),
        on="user_id", left_ts="ts", right_ts="vts",
    ).agg(F.count("vts"), F.count("*")).head(),
    "window_funnel": lambda: window_funnel(
        events, ["signup", "click", "purchase"], key="user_id")
        .agg(F.sum("n_steps"), F.count("*")).head(),
    "collocations": lambda: collocation_scores(
        docs, min_count=1, top_k=50).collect(),
    "phrase_search": lambda: phrase_search(
        docs, ["w1 w17 w99", "w4242 w7 w300"]).collect(),
}}

# warmup: page cache + codegen hot
(docs if job in DOC_JOBS else events).select(F.count("*")).head()

fn = FNS[job]
best = float("inf")
for _ in range(reps):
    t0 = time.time(); fn(); best = min(best, time.time() - t0)
print("RESULT " + json.dumps({{"cores": cores, "rows": n_rows,
                               "job": job, "best": round(best, 3)}}))
spark.stop()
"""


def run(cores: int, size: int, job: str, reps: int) -> dict:
    script = WORKER.format(repo=REPO)
    out = subprocess.run(
        [sys.executable, "-c", script, str(cores), str(size), job,
         str(reps)],
        capture_output=True, text=True, timeout=3600,
    )
    for line in out.stdout.splitlines():
        if line.startswith("RESULT "):
            return json.loads(line[len("RESULT "):])
    raise RuntimeError(
        f"worker failed:\n{out.stdout[-2000:]}\n{out.stderr[-4000:]}"
    )


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 500_000
    base = int(sys.argv[2]) if len(sys.argv) > 2 else 4
    hi = base * 4
    t_base: dict[str, float] = {}
    t_hi: dict[str, float] = {}
    # per-job input sizes: scan-bound jobs get 8x docs so fixed overhead
    # does not swamp the signal; events jobs at 16 rows per doc-unit so
    # the asof window has real volume
    sizes = {
        "jvm_control_explode_count": n_docs * 8,
        "collocations": n_docs,
        "phrase_search": n_docs * 8,
        "asof_join": n_docs * 16,
        "window_funnel": n_docs * 16,
    }
    for job in JOBS:
        # paired back-to-back so the box's throttle drift hits both sides
        r_hi = run(hi, sizes[job], job, 3)
        r_lo = run(base, sizes[job], job, 3)
        t_hi[job], t_base[job] = r_hi["best"], r_lo["best"]
        print(f"{job}: {base}c {t_base[job]}s  {hi}c {t_hi[job]}s  "
              f"eff {t_base[job] / (4 * t_hi[job]):.3f}", flush=True)

    eff = {j: round(t_base[j] / (4 * t_hi[j]), 3) for j in JOBS}
    engine_min = min(v for j, v in eff.items() if j not in CONTROLS)
    rec = {
        "n_docs": n_docs, "job_sizes": sizes, "base_cores": base,
        "times_base": t_base, "times_4x": t_hi, "efficiency": eff,
        "control_efficiency": eff["jvm_control_explode_count"],
        "min_engine_efficiency": engine_min,
    }
    with open(os.path.join(REPO, "BENCH", "analytics_scale.json"),
              "w") as f:
        json.dump(rec, f, indent=1)

    rows = "\n".join(
        f"| {j} | {sizes[j]:,} | {t_base[j]} | {t_hi[j]} | {eff[j]}"
        f"{' (control)' if j in CONTROLS else ''} |"
        for j in JOBS
    )
    md = f"""# Analytics tail scaling (N vs 4N cores)

Inputs: generated docs (40 words from a 50k-type vocab) and generated
events (user_id / 30-day ts / 4 event types over 50k users) — both
pure-codegen fixtures with 64 pinned leaf splits; per-job input sizes
in the table (rows = tokens for doc jobs, events for event jobs). Paired
back-to-back runs per job, best of 3, local[{base}] vs local[{hi}].
Same box caveats as BENCH/BASELINE.md: the JVM-codegen control bounds
what this shared-DRAM VM can evidence in the same window; engine jobs
at or above the control add no scaling penalty of their own.

| job | input rows | {base}c secs | {hi}c secs | efficiency |
|---|---|---|---|---|
{rows}

asof_join is the union+window formulation — shuffle volume exactly
|left|+|right| narrow rows, one hash exchange on user_id, no join node.
window_funnel is k-1 bounded passes (filtered scan + min-agg + narrow
key join each). collocations aggregates the full bigram relation then
broadcasts vocab-sized margins. phrase_search filters postings to the
phrase vocabulary in-scan (scan-bound by construction).
"""
    with open(os.path.join(REPO, "BENCH", "ANALYTICS_SCALE.md"),
              "w") as f:
        f.write(md)
    print(json.dumps({"metric": "analytics family min engine efficiency",
                      "value": engine_min, "unit": "ratio",
                      "detail": eff}))


if __name__ == "__main__":
    main()
