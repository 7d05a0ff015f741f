"""spark-submit entry for the multi-sample × multi-probe run grid — the
reference RunManager surface (/root/reference/bloomine/run.py:26-61), which
loops samples × probes and re-reads each sample's FASTQ once per probe.

Spark-first inversion: samples live in ONE table (the ``source`` column is
the sample id, SURVEY S6 mapping) and every sample × probe × flank is
screened in a SINGLE corpus scan (``multiscreen.screen_flank_pairs``);
everything downstream operates on the tiny score log through the library's
flank-pair plan: the combined flank log per (sample, read, probe) is
``cascade.flank_pair_scores`` (J1) and the assignments are its argmax
``cascade.best_flank_pairs`` (W1). Per-sample artifacts match the
reference's per-run directory layout:

    <output>/<run-id>/multi_scores/      long score log (stage, resumable)
    <output>/<run-id>/assignments/       argmax probe per read,
                                         partitioned by source
    <output>/<run-id>/hits/              assigned reads hydrated with tokens
    <output>/samples/<sample>/<sample>.flank_scores.log
        probe_set-prefixed merged TSV (run.py:139-177 byte format)
    <output>/samples/<sample>/<sample>.polyfamily.json
        {probe: [[variant, count], ...]} (run.py:101-125)

Usage:
    spark-submit --py-files bloomine_spark.zip jobs/run_grid.py \
      --input /path/seqs_parquet \
      --targets '{"probeA": [[...],[...]], "probeB": [[...],[...]]}' \
      --output /path/out --run-id grid0 [--samples s0,s1] [--min-kmer 11]

Stages are resumable (_SUCCESS + _PARAMS.json manifests): a rerun of a died
grid skips completed stages; driver-side sinks re-render from the
materialized parquet (cheap).
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
        help="input layout: parquet sequences table (default) or raw "
        "per-sample FASTQ(.gz) files — the reference RunManager's native "
        "surface (sample = file stem)",
    )
    ap.add_argument("--targets", default=None,
                    help='JSON {probe_id: [head_tokens, tail_tokens]}')
    ap.add_argument(
        "--targets-fasta", default=None,
        help="probes as the reference multifasta flank-pair format "
        "(each target id appears twice: flank1 then flank2, "
        "utilities.py:62-96); implies DNA tokenization",
    )
    ap.add_argument("--samples", default=None,
                    help="comma-joined source ids (default: all distinct)")
    ap.add_argument("--k", type=int, default=7)
    ap.add_argument("--min-kmer", type=int, default=11)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="grid0")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from bloomine_spark.operators.cascade import (
        best_flank_pairs,
        extract_targets_multi,
        flank_pair_scores,
    )
    from bloomine_spark.operators.multiscreen import screen_flank_pairs
    from bloomine_spark.operators.report import (
        FLANK_TSV_HEADER,
        flank_tsv_row,
        polyfamily_summary_from_counts,
    )
    from bloomine_spark.params import ScreenParams
    from bloomine_spark.session import job_session
    from bloomine_spark.sources.stages import StageRunner

    spark = job_session("bloomine-grid")
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
    run_dir = f"{args.output}/{args.run_id}"
    runner = StageRunner(spark, run_dir, force=args.force)
    manifest = {
        "targets": {t: [list(h), list(tl)] for t, (h, tl) in targets.items()},
        "k": args.k, "min_kmer": args.min_kmer,
    }

    if args.format == "fastq":
        from bloomine_spark.sources.fastq import (
            DNA_COMPLEMENT_MAP,
            read_fastq,
        )

        complement_map = DNA_COMPLEMENT_MAP
        df = read_fastq(spark, args.input)
    else:
        df = spark.read.parquet(args.input)
    # the RC vocabulary changes screen/extract results, so it must
    # invalidate resumed stages (switching --format with identical targets
    # would otherwise reuse stale parquet)
    manifest["complement"] = (
        [int(t) for t in complement_map] if complement_map is not None
        else None
    )
    if args.samples:
        df = df.filter(F.col("source").isin(args.samples.split(",")))

    # ---- stage 1: ONE scan screens every sample x probe x flank ----------
    # the reader's own frame: decode and screen run as one Python pass; the
    # FASTQ reader's mate column is dropped from the stages after the screen
    screened, thresholds = screen_flank_pairs(df, targets, params,
                                              complement_map)
    scores = runner.stage(
        "multi_scores", lambda: screened.drop("mate"),
        manifest=dict(manifest, stage="multi_scores"),
    )
    # the RunManager merged log (run.py:139-177): J1 per (sample, read, probe)
    combined = flank_pair_scores(scores, thresholds)

    # ---- stage 2: polyfamily argmax per (sample, read), ties -> min probe -
    assigned = runner.stage(
        "assignments", lambda: best_flank_pairs(combined),
        manifest=dict(manifest, stage="assignments"),
    )

    # ---- stage 3: hydrate assigned reads with tokens (ONE join) ----------
    # join on BOTH (source, doc_id): read ids are only unique per sample in
    # FASTQ practice, so a doc_id-only join would cross-attach one sample's
    # target to another sample's read
    hits = runner.stage(
        "hits",
        lambda: df.drop("mate").join(
            assigned.select("source", "doc_id", "target_id"),
            ["source", "doc_id"],
        ),
        manifest=dict(manifest, stage="hits"),
    )

    # ---- per-sample driver-side sinks ------------------------------------
    # O(stages) Spark jobs total, NOT O(samples x probes): one sorted
    # toLocalIterator streams every sample's flank log, and one grouped
    # extraction + count pass feeds every polyfamily.json.
    print(f"stages ran: {runner.ran}  skipped (resume): {runner.skipped}")
    jobs_before_sinks = len(
        spark.sparkContext.statusTracker().getJobIdsForGroup())

    def sample_dir(sample: str) -> str:
        sdir = os.path.join(args.output, "samples", sample)
        os.makedirs(sdir, exist_ok=True)
        return sdir

    # flank_scores.log — probe_set-prefixed merged TSV (run.py:139-177),
    # ONE cluster-side sort, stream-split into per-sample files as the
    # source changes (rows arrive source-major)
    samples: list[str] = []
    fh = None
    try:
        rows = (
            combined.orderBy("source", "probe_id", "doc_id").toLocalIterator()
        )
        for r in rows:
            if not samples or r["source"] != samples[-1]:
                if fh is not None:
                    fh.close()
                samples.append(r["source"])
                fh = open(os.path.join(
                    sample_dir(r["source"]),
                    f'{r["source"]}.flank_scores.log'), "w")
                fh.write(f"probe_set\t{FLANK_TSV_HEADER}\n")
            fh.write(f'{r["probe_id"]}\t{flank_tsv_row(r)}\n')
    finally:
        if fh is not None:
            fh.close()

    # polyfamily.json — ONE multi-probe extraction over hits, grouped
    # variant counts per (sample, probe), collected once (tiny) and
    # rendered per sample driver-side
    ex = extract_targets_multi(hits, targets, min_kmer=args.min_kmer,
                               complement_map=complement_map)
    vc = (
        ex.groupBy("source", "target_id", "extracted")
        .agg(F.count("*").alias("count"))
        .collect()
    )
    by_sample: dict[str, list] = {}
    for r in vc:
        by_sample.setdefault(r["source"], []).append(
            (r["target_id"], r["extracted"], r["count"])
        )
    for sample, counts in by_sample.items():
        with open(os.path.join(
                sample_dir(sample), f"{sample}.polyfamily.json"), "w") as jf:
            jf.write(polyfamily_summary_from_counts(counts))
    for sample in samples:
        print(f"sample {sample}: wrote "
              f"{os.path.join(args.output, 'samples', sample)}")
    # evidence for the O(stages) claim: the sink phase issues a constant
    # handful of jobs (one streamed sort, one grouped count collect)
    # regardless of the samples x probes grid size
    n_jobs = len(spark.sparkContext.statusTracker().getJobIdsForGroup())
    print(f"spark-jobs: total={n_jobs} sink={n_jobs - jobs_before_sinks}")

    spark.stop()


if __name__ == "__main__":
    main()
