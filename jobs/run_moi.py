"""spark-submit entry for the MOI pipeline: two-flank cascade → inter-flank
extraction → variant/length counts → the reference-format subpop report
(/root/reference/bloomine/moi.py end-to-end, distributed).

    spark-submit --py-files bloomine_spark.zip jobs/run_moi.py \
        --input /path/to/sequences_parquet --head 1,2,3 --tail 7,8,9 \
        --min-kmer 11 --output /path/out [--run-id r0]

Writes <output>/<run-id>/{flank1_scores,flank2_scores,hits,variants,
length_variants}/ parquet (stage-resumable: completed stages are skipped on
rerun) plus <output>/<run-id>/subpop_report.txt.
"""

from __future__ import annotations

import argparse
import os


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument(
        "--format", choices=["parquet", "fastq"], default="parquet",
        help="parquet sequences table (default) or raw FASTQ(.gz) files "
        "(DNA tokenization + reverse-complement semantics)",
    )
    ap.add_argument("--head", required=True,
                    help="comma-joined token ids, or a base string (ACGT...) "
                    "with --format fastq")
    ap.add_argument("--tail", required=True,
                    help="comma-joined token ids, or a base string")
    ap.add_argument("--k", type=int, default=7)
    ap.add_argument("--min-kmer", type=int, default=11)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="moi0")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    from bloomine_spark.operators.report import render_subpop_report
    from bloomine_spark.params import ScreenParams
    from bloomine_spark.session import job_session
    from bloomine_spark.sources.stages import resumable_cascade

    spark = job_session("bloomine-moi")

    def _flank(v):
        if set(v.upper()) <= set("ACGTN"):
            from bloomine_spark.sources.fastq import tokenize_bases

            return tokenize_bases(v).tolist()
        return [int(t) for t in v.split(",")]

    complement_map = None
    if args.format == "fastq":
        from bloomine_spark.sources.fastq import (
            DNA_COMPLEMENT_MAP,
            read_fastq,
        )

        complement_map = DNA_COMPLEMENT_MAP
        head, tail = _flank(args.head), _flank(args.tail)
        df = read_fastq(spark, args.input).drop("mate")
    else:
        head = [int(t) for t in args.head.split(",")]
        tail = [int(t) for t in args.tail.split(",")]
        df = spark.read.parquet(args.input)
    run_dir = os.path.join(args.output, args.run_id)
    out, runner = resumable_cascade(
        df, head, tail, run_dir, ScreenParams(k=args.k),
        extract_min_kmer=args.min_kmer, force=args.force,
        complement_map=complement_map,
    )
    print(f"stages ran: {runner.ran}  skipped (resume): {runner.skipped}")

    report = render_subpop_report(
        out["variants"], out["length_variants"],
        fastq=args.input, flanks_fasta=f"head={args.head} tail={args.tail}",
    )
    report_path = os.path.join(run_dir, "subpop_report.txt")
    with open(report_path, "w") as fh:
        fh.write(report)
    print(f"wrote {report_path}")
    spark.stop()


if __name__ == "__main__":
    main()
