"""spark-submit entry point for the two-phase screen pipeline.

    spark-submit --py-files bloomine_spark.zip jobs/run_screen.py \
        --input /path/to/sequences_parquet_or_iceberg \
        --target 17,91,4,203,... --k 7 --fp 1e-4 --fp-sim 50 --sp-error 4 \
        --output /path/to/out --run-id myrun --checkpoint-dir /path/ckpt

Writes two outputs, the analogs of the reference's ``_BMfiltered.fq`` and
``_flank_scores.tsv`` (/root/reference/src/BlooMineUtils.cpp:270-284):
  <output>/hits/    — rows passing both phases
  <output>/scores/  — the per-read score log
Build the zip with: python -c "from bloomine_spark.session import package_zip; print(package_zip())"
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--format", choices=["parquet", "fastq", "fasta"], default="parquet",
        help="input layout: parquet sequences table (default) or raw "
        "FASTQ/FASTA(.gz) files — the reference's native file surface, "
        "scanned one task per file with in-kernel decompress+tokenize",
    )
    ap.add_argument("--target", required=True,
                    help="comma-joined token ids, or a base string "
                    "(ACGT...) / path to a FASTA file when --format is "
                    "fastq/fasta")
    ap.add_argument("--k", type=int, default=7)
    ap.add_argument("--fp", type=float, default=1e-4)
    ap.add_argument("--fp-sim", type=float, default=50.0)
    ap.add_argument("--sp-error", type=float, default=4.0)
    ap.add_argument("--mode", choices=["scored", "exact"], default="scored")
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="run0")
    ap.add_argument("--checkpoint-dir", default=None)
    ap.add_argument(
        "--flank2",
        default=None,
        help="comma-joined token ids; with --flank2 the job runs the "
        "two-flank cascade with per-stage resume (completed stages under "
        "<output>/<run-id>/ are skipped on rerun, "
        "BloomineRunner.py:170-190 semantics)",
    )
    ap.add_argument("--force", action="store_true", help="ignore completed stages")
    ap.add_argument(
        "--hits-fastq", action="store_true",
        help="with --format fastq: also write hits as per-sample FASTQ "
        "shards (<output>/<run-id>/hits_fq/, the reference _BMfiltered.fq "
        "surface, original quality strings preserved)",
    )
    ap.add_argument(
        "--tsv",
        default=None,
        help="with --flank2: also write the combined flank-scores TSV to "
        "this path (reference <prefix>_combined_flank_scores.tsv format, "
        "BloomineRunner.py:205-274)",
    )
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bloomine_spark.operators.screen import screen_scores
    from bloomine_spark.params import ScreenParams
    from bloomine_spark.session import job_session

    spark = job_session("bloomine-screen")
    params = ScreenParams(
        k=args.k, false_positive=args.fp, fp_sim=args.fp_sim,
        sp_error=args.sp_error,
    )

    complement_map = None
    if args.format == "parquet":
        target = [int(t) for t in args.target.split(",")]
        df = reads = spark.read.parquet(args.input)
    else:
        import os

        from bloomine_spark.sources.fastq import (
            DNA_COMPLEMENT_MAP,
            load_fasta_targets,
            read_sequence_files,
            tokenize_bases,
        )

        complement_map = DNA_COMPLEMENT_MAP
        if os.path.isfile(args.target):
            target = next(iter(load_fasta_targets(args.target).values()))
        elif set(args.target.upper()) <= set("ACGTN"):
            target = tokenize_bases(args.target).tolist()
        else:
            target = [int(t) for t in args.target.split(",")]
        reads = read_sequence_files(
            spark, args.input, fmt=args.format,
            keep_quality=args.hits_fastq,
        )
        df = reads.drop("mate")
    if args.flank2:
        from bloomine_spark.sources.stages import resumable_cascade

        if args.format != "parquet" and set(args.flank2.upper()) <= set("ACGTN"):
            from bloomine_spark.sources.fastq import tokenize_bases

            flank2 = tokenize_bases(args.flank2).tolist()
        else:
            flank2 = [int(t) for t in args.flank2.split(",")]
        stages, runner = resumable_cascade(
            df, target, flank2, f"{args.output}/{args.run_id}", params,
            force=args.force, complement_map=complement_map,
        )
        print(f"stages ran: {runner.ran}  skipped (resume): {runner.skipped}")
        if args.tsv:
            from bloomine_spark.operators.cascade import combined_flank_scores
            from bloomine_spark.operators.report import write_flank_scores_tsv

            # thresholds come from the score logs themselves, like the
            # reference's parse() reads thr from each TSV (Runner.py:213-234)
            def _thr(log):
                row = log.select("threshold").first()
                return float(row["threshold"]) if row else 0.0

            combined = combined_flank_scores(
                stages["flank1_scores"], stages["flank2_scores"],
                _thr(stages["flank1_scores"]), _thr(stages["flank2_scores"]),
            )
            write_flank_scores_tsv(combined, args.tsv)
            print(f"combined flank-scores TSV: {args.tsv}")
    else:
        # the reader's own frame: decode and screen run as one Python pass
        scores = screen_scores(reads, target, params, mode=args.mode,
                               complement_map=complement_map,
                               keep_tokens=args.hits_fastq)
        if args.format != "parquet":
            scores = scores.drop("mate")
        scores = scores.cache()
        scores.write.mode("overwrite").parquet(f"{args.output}/scores")
        scores.filter(F.col("sp_pass")).write.mode("overwrite").parquet(
            f"{args.output}/hits"
        )
        if args.hits_fastq:
            from bloomine_spark.sources.fastq import write_fastq

            write_fastq(scores.filter(F.col("sp_pass")),
                        f"{args.output}/hits_fq")
            print(f"hits FASTQ: {args.output}/hits_fq")

    if args.checkpoint_dir:
        from bloomine_spark.sketch.hll import HyperLogLog
        from bloomine_spark.sources.checkpoint import checkpointed_sketch_agg

        sk, lineage = checkpointed_sketch_agg(
            df, "tokens", lambda: HyperLogLog.empty(12),
            args.checkpoint_dir, args.run_id, "hll_tokens",
        )
        print(f"distinct-token estimate: {sk.estimate():.1f}")
        lineage.select("partition_id", "rows", "n_values", "secs").show(200)

    spark.stop()


if __name__ == "__main__":
    main()
