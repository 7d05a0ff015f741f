"""spark-submit entry for the polyfamily pipeline: one-pass multi-probe
screen → argmax probe assignment → per-probe MOI extraction → the
reference's JSON summary (/root/reference/bloomine/run.py:64-130,
distributed; ONE corpus scan for all probes vs the reference's
scan-per-probe loop).

    spark-submit --py-files bloomine_spark.zip jobs/run_polyfamily.py \
        --input /path/to/sequences_parquet \
        --targets '{"probeA": [[1,2,3],[7,8,9]], "probeB": [[4,5],[7,8,9]]}' \
        --output /path/out [--min-kmer 11]

Writes <output>/assignments/ parquet (source, doc_id, target_id, total_score) and
<output>/polyfamily.json ({probe: [[variant, count], ...]}).
"""

from __future__ import annotations

import argparse
import json
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--format", choices=["parquet", "fastq"], default="parquet",
        help="parquet sequences table (default) or raw FASTQ(.gz) files "
        "(DNA tokenization + reverse-complement semantics)",
    )
    ap.add_argument("--targets", default=None,
                    help='JSON {probe_id: [head_tokens, tail_tokens]}')
    ap.add_argument(
        "--targets-fasta", default=None,
        help="probes as the reference multifasta flank-pair format "
        "(two records per target id)",
    )
    ap.add_argument("--k", type=int, default=7)
    ap.add_argument("--min-kmer", type=int, default=11)
    ap.add_argument("--output", required=True)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bloomine_spark.operators.cascade import extract_targets_multi
    from bloomine_spark.operators.multiscreen import polyfamily_onepass
    from bloomine_spark.operators.report import polyfamily_summary_from_counts
    from bloomine_spark.params import ScreenParams
    from bloomine_spark.session import job_session

    spark = job_session("bloomine-polyfamily")
    complement_map = None
    if args.targets_fasta:
        from bloomine_spark.sources.fastq import (
            DNA_COMPLEMENT_MAP,
            load_fasta_flank_pairs,
        )

        targets = load_fasta_flank_pairs(args.targets_fasta)
        complement_map = DNA_COMPLEMENT_MAP
    elif args.targets:
        targets = {
            tid: (list(map(int, pair[0])), list(map(int, pair[1])))
            for tid, pair in json.loads(args.targets).items()
        }
    else:
        ap.error("one of --targets / --targets-fasta is required")
    params = ScreenParams(k=args.k)

    if args.format == "fastq":
        from bloomine_spark.sources.fastq import (
            DNA_COMPLEMENT_MAP,
            read_fastq,
        )

        complement_map = DNA_COMPLEMENT_MAP
        # the reader's own frame: decode and screen run as one Python pass
        # (the assignments carry only read keys, so no mate column)
        df = read_fastq(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
    if "source" not in df.columns:
        # single-sample parquet without a source column: constant key so
        # the (source, doc_id) join below stays uniform
        df = df.withColumn("source", F.lit("sample"))
    # polyfamily_onepass already argmax-bins docs to probes (W1)
    assigned = polyfamily_onepass(df, targets, params,
                                  complement_map=complement_map).cache()
    assigned.write.mode("overwrite").parquet(f"{args.output}/assignments")

    # per-probe MOI in ONE extraction pass (sub-batched by probe inside the
    # kernel) + one collected count frame — O(stages) jobs, not O(probes).
    # Join on (source, doc_id): FASTQ read ids are only unique per sample,
    # a doc_id-only join cross-attaches assignments between samples.
    hits = df.join(
        assigned.select("source", "doc_id", "target_id"),
        ["source", "doc_id"],
    )
    ex = extract_targets_multi(hits, targets, min_kmer=args.min_kmer,
                               complement_map=complement_map)
    vc = (
        ex.groupBy("target_id", "extracted")
        .agg(F.count("*").alias("count"))
        .collect()
    )
    blob = polyfamily_summary_from_counts(
        (r["target_id"], r["extracted"], r["count"]) for r in vc
    )
    out_path = os.path.join(args.output, "polyfamily.json")
    with open(out_path, "w") as fh:
        fh.write(blob)
    print(f"wrote {out_path}")
    spark.stop()


if __name__ == "__main__":
    main()
