"""spark-submit entry for the end-to-end training-data curation pipeline.

The full pre-training document pass, composed from this engine's curation
operators, with per-stage resumable parquet (the same _SUCCESS +
_PARAMS.json protocol as the screen cascade):

  (input)   — with --sample RATE, a deterministic md5-threshold
              Bernoulli subset of the input (pure function of
              (doc_id, salt); a filter, not a stage)
  scrubbed  — PII scrub (emails/IPv4s/phones → typed tags, counts kept)
  refinedweb— (only with --refinedweb) RefinedWeb line-wise corrections:
              boilerplate lines cut, pages rebuilt, mostly-boilerplate
              docs dropped (Penedo 2023 App. G.2)
  normalized— (only with --normalize) CCNet text normalization
              (Wenzek 2020) — after the line packs (they need raw case
              and newlines), before any scoring
  scored    — quality + repetition + token-count features joined on doc_id
  filtered  — threshold pass (quality ≥ --quality-min, top-2-gram
              fraction ≤ --top2-max, n_ws_tokens ≥ --min-tokens)
  deduped   — exact content dedup, canonical = min doc_id per fingerprint
              (+ optional MinHash-LSH near-dup with --near-dup: pairs →
              connected-components clusters → one survivor per cluster,
              min-id or --near-dup-keep quality)
  decontam  — (only with --eval-set PATH) drop docs sharing any word
              n-gram with the eval corpus (Bloom-prefiltered overlap)
  curated/  — final docs, partitioned by source (+ a deterministic
              98/1/1 train/val/test column with --split)
  batches/  — (only with --pack TOKENS) training-batch manifest: the
              (train-split) docs, optionally temperature-resampled with
              --mixture-alpha, packed into TOKENS-token context windows
              across --pack-shards streams per source

Every stage is a narrow or grouped op: no driver collects, no cross
joins; near-dup is the banded LSH (bucket equi-join, no n² stage).

    spark-submit --py-files bloomine_spark.zip jobs/run_curate.py \
        --input /path/documents_parquet --output /path/out \
        --run-id c0 [--quality-min 0.5] [--top2-max 0.2]
        [--min-tokens 5] [--near-dup] [--eval-set /path/eval_parquet]
        [--decontam-n 8] [--force]
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--run-id", default="c0")
    ap.add_argument("--quality-min", type=float, default=0.5)
    ap.add_argument("--top2-max", type=float, default=0.2)
    ap.add_argument("--min-tokens", type=int, default=5)
    ap.add_argument("--near-dup", action="store_true",
                    help="also drop MinHash-LSH near-duplicates: LSH pairs "
                    "→ connected-components clusters → ONE survivor per "
                    "cluster (dedup_groups)")
    ap.add_argument("--near-dup-keep", choices=("min-id", "quality"),
                    default="min-id",
                    help="cluster survivor rule: min doc_id (default, "
                    "deterministic) or best quality score (ties → min id)")
    ap.add_argument("--soft-dedup", action="store_true",
                    help="SoftDeDup (He 2024): keep every near-duplicate "
                    "but attach (commonness, weight) — sampling weight "
                    "inversely proportional to near-dup group size, mass-"
                    "conserving. Mutually exclusive with --near-dup.")
    ap.add_argument("--eval-set", default=None, metavar="PATH",
                    help="parquet of eval docs (doc_id, text): drop curated "
                    "docs sharing any word n-gram with it (decontamination)")
    ap.add_argument("--decontam-n", type=int, default=8,
                    help="n-gram size for --eval-set overlap (default 8)")
    ap.add_argument("--split", action="store_true",
                    help="append a deterministic 98/1/1 train/val/test "
                    "column (md5-bucket of doc_id — stable under corpus "
                    "growth)")
    ap.add_argument("--pack", type=int, default=None, metavar="TOKENS",
                    help="assemble training batches: pack curated docs "
                    "(the train split when --split) into TOKENS-token "
                    "context windows; writes a batches/ chunk manifest")
    ap.add_argument("--pack-shards", type=int, default=16,
                    help="independent pack streams per source "
                    "(parallelism = sources x shards; default 16)")
    ap.add_argument("--mixture-alpha", type=float, default=None,
                    help="temperature-sample sources (weight ∝ "
                    "tokens^alpha) before packing; docs get deterministic "
                    "copy counts (upsampling) from the md5-bucket rule")
    ap.add_argument("--token-budget", type=int, default=None,
                    help="mixture token budget (default: the corpus size, "
                    "i.e. resample to the same scale)")
    ap.add_argument("--normalize", action="store_true",
                    help="CCNet text normalization (Wenzek 2020) after "
                         "the line-based packs (which need raw case and "
                         "newlines) and before scoring: lowercase, "
                         "digits→0, control chars handled, whitespace "
                         "collapsed — the canonical pre-LM-scoring cleanup")
    ap.add_argument("--sample", type=float, default=None, metavar="RATE",
                    help="deterministic md5-threshold Bernoulli sample of "
                         "the input docs before anything else runs — the "
                         "kept set is a pure function of (doc_id, salt), "
                         "stable under corpus growth and resume")
    ap.add_argument("--sample-salt", default="curate")
    ap.add_argument("--refinedweb", action="store_true",
                    help="apply the RefinedWeb line-wise corrections "
                         "(Penedo 2023 App. G.2) right after the PII scrub "
                         "— its position after extraction in the original "
                         "pipeline: mainly-uppercase / numeric-only / "
                         "social-counter / nav-word lines removed, pages "
                         "rebuilt, docs losing >50% of their characters "
                         "dropped before any later stage sees them")
    ap.add_argument("--c4", action="store_true",
                    help="apply the C4 rule pack (Raffel 2020 §2.2) after "
                         "the PII scrub: lines without terminal punctuation "
                         "/ <5 words / containing 'javascript' are dropped, "
                         "pages are rebuilt from the kept lines, and pages "
                         "failing the sentence/blocklist/lorem-ipsum/curly "
                         "rules are removed before scoring")
    ap.add_argument("--gopher", action="store_true",
                    help="also apply the Gopher rule pack (Rae 2021) in "
                    "the filter stage — word-count / mean-word-length / "
                    "symbol-ratio / alpha-words / stop-words, all integer "
                    "cross-multiplication rules")
    ap.add_argument("--gopher-min-words", type=int, default=50)
    ap.add_argument("--gopher-min-stopwords", type=int, default=2)
    ap.add_argument("--gopher-repetition", action="store_true",
                    help="also gate docs on the Gopher REPETITION pack "
                    "(Rae 2021 Table A1) in the filter stage: duplicate "
                    "line/paragraph fractions, top-{2,3,4}-gram char "
                    "share, duplicated-{5..10}-gram positional coverage "
                    "— all 13 thresholds integer cross-multiplications")
    ap.add_argument("--trim-dup-spans", type=int, default=None, metavar="K",
                    help="surgically remove cross-corpus duplicated "
                    "K-token spans after dedup (ExactSubstr semantics at "
                    "window granularity; the globally-first occurrence "
                    "survives); docs falling under --min-tokens are then "
                    "dropped")
    ap.add_argument("--line-dedup", action="store_true",
                    help="corpus-level exact LINE dedup after document "
                    "dedup (RefinedWeb/FineWeb): repeated verbatim lines "
                    "keep only their globally-first occurrence; docs left "
                    "empty are dropped")
    ap.add_argument("--boilerplate-frac", type=float, default=None,
                    metavar="FRAC",
                    help="drop EVERY occurrence of a line present in more "
                    "than FRAC of a source's docs (the RefinedWeb "
                    "per-domain document-frequency rule — template text "
                    "has no canonical survivor, unlike --line-dedup); "
                    "runs before --line-dedup; docs left empty drop")
    ap.add_argument("--output-format", choices=("parquet", "orc"),
                    default="parquet",
                    help="storage format of the curated table (ORC is "
                    "the other columnar lakehouse format Spark writes "
                    "natively — same partitionBy(source) layout); "
                    "intermediate stage tables stay parquet")
    ap.add_argument("--input-format",
                    choices=("parquet", "orc", "jsonl"),
                    default="parquet")
    ap.add_argument("--force", action="store_true")
    args = ap.parse_args()
    if args.near_dup and args.soft_dedup:
        ap.error("--near-dup (drop) and --soft-dedup (reweight) are "
                 "mutually exclusive")

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from bloomine_spark.operators.textops import (
        quality_scores,
        repetition_scores,
        scrub_pii,
        token_counts,
    )
    from bloomine_spark.session import job_session
    from bloomine_spark.sources.stages import StageRunner

    spark = job_session("bloomine-curate")
    run_dir = f"{args.output}/{args.run_id}"
    runner = StageRunner(spark, run_dir, force=args.force)
    manifest = {
        "quality_min": args.quality_min, "top2_max": args.top2_max,
        "min_tokens": args.min_tokens, "near_dup": bool(args.near_dup),
        "near_dup_keep": args.near_dup_keep,
        "soft_dedup": bool(args.soft_dedup),
        "eval_set": args.eval_set, "decontam_n": args.decontam_n,
        "normalize": bool(args.normalize),
        "sample": args.sample, "sample_salt": args.sample_salt,
        "refinedweb": bool(args.refinedweb),
        "c4": bool(args.c4),
        "gopher": bool(args.gopher),
        "gopher_min_words": args.gopher_min_words,
        "gopher_min_stopwords": args.gopher_min_stopwords,
        "gopher_repetition": bool(args.gopher_repetition),
        "split": bool(args.split), "pack": args.pack,
        "pack_shards": args.pack_shards,
        "mixture_alpha": args.mixture_alpha,
        "token_budget": args.token_budget,
        "trim_dup_spans": args.trim_dup_spans,
        "input_format": args.input_format,
        "line_dedup": bool(args.line_dedup),
        "boilerplate_frac": args.boilerplate_frac,
        "output_format": args.output_format,
    }

    if args.input_format == "jsonl":
        # the lingua franca of shipped web corpora (one JSON object per
        # line, .gz transparently decompressed by the line reader);
        # requires a `text` field. Missing doc_id derives as
        # xxhash64(text, source) — deterministic and engine-stable, with
        # the documented consequence that byte-identical texts from one
        # source collapse to one id (exact dedup would do that anyway).
        # Missing source derives from the file stem (the FASTQ
        # sample-naming convention).
        docs = spark.read.json(args.input)
        if "text" not in docs.columns:
            raise SystemExit("jsonl input needs a 'text' field")
        if "source" not in docs.columns:
            docs = docs.withColumn(
                "source",
                F.regexp_extract(
                    F.input_file_name(), r"([^/]+?)(\.jsonl?)?(\.gz)?$", 1
                ),
            )
        if "doc_id" not in docs.columns:
            # the collapse must be REAL, not just an id collision:
            # duplicate ids would fan out every downstream id-join
            docs = docs.withColumn(
                "doc_id", F.xxhash64("text", "source")
            ).dropDuplicates(["doc_id"])
    elif args.input_format == "orc":
        docs = spark.read.orc(args.input)
    else:
        docs = spark.read.parquet(args.input)
    if args.sample is not None:
        from bloomine_spark.operators.textops import sample_by_hash

        # a filter, not a stage: deterministic by (doc_id, salt), so it
        # needs no materialization to be resumable
        docs = sample_by_hash(docs, args.sample, salt=args.sample_salt)

    def _scrub():
        s = scrub_pii(docs)
        keep = [c for c in docs.columns if c != "text"]
        return (
            docs.select(*keep)
            .join(s.withColumnRenamed("doc_id", "_sid"),
                  F.col("doc_id").cast("string") == F.col("_sid").cast("string"))
            .select(*keep, F.col("clean_text").alias("text"),
                    "n_email", "n_ipv4", "n_phone")
        )

    scrubbed = runner.stage("scrubbed", _scrub,
                            manifest=dict(manifest, stage="scrubbed"))

    if args.refinedweb:
        from bloomine_spark.operators.textops import refinedweb_line_correct

        def _refinedweb():
            # line corrections precede every rule pack (RefinedWeb runs
            # them straight after extraction): boilerplate lines are cut,
            # text is REBUILT, and mostly-boilerplate docs die here
            cols = scrubbed.columns
            return (
                refinedweb_line_correct(scrubbed)
                .filter("keep").select(*cols)
            )

        scrubbed = runner.stage("refinedweb", _refinedweb,
                                manifest=dict(manifest, stage="refinedweb"))

    if args.c4:
        from bloomine_spark.operators.textops import c4_clean

        def _c4():
            # cleaning precedes scoring (C4's position in the original
            # pipeline): text is REBUILT from the kept lines, failing
            # pages dropped, all downstream scores see the cleaned page
            cols = scrubbed.columns
            return c4_clean(scrubbed).filter("page_keep").select(*cols)

        scrubbed = runner.stage("c4", _c4,
                                manifest=dict(manifest, stage="c4"))

    if args.normalize:
        from bloomine_spark.operators.textops import ccnet_normalize

        def _normalize():
            # AFTER the line-based packs (refinedweb/c4): normalization
            # lowercases and folds newlines to spaces, which would blind
            # the mainly-uppercase rule and the line splits entirely
            cols = scrubbed.columns
            return ccnet_normalize(scrubbed).select(*cols)

        scrubbed = runner.stage("normalized", _normalize,
                                manifest=dict(manifest, stage="normalized"))

    def _score():
        ids = F.col("doc_id").cast("string")
        q = quality_scores(scrubbed).select(
            F.col("doc_id").alias("qid"), "quality")
        r = repetition_scores(scrubbed).select(
            F.col("doc_id").cast("string").alias("rid"), "top2_frac")
        t = token_counts(scrubbed).select(
            F.col("doc_id").alias("tid"), "n_ws_tokens")
        return (
            scrubbed.join(q, ids == F.col("qid"))
            .join(r, ids == F.col("rid"), "left")  # <2-word docs have no grams
            .join(t, ids == F.col("tid"))
            .drop("qid", "rid", "tid")
        )

    scored = runner.stage("scored", _score,
                          manifest=dict(manifest, stage="scored"))

    def _filter():
        out = scored.filter(
            (F.col("quality") >= args.quality_min)
            & (F.coalesce(F.col("top2_frac"), F.lit(0.0)) <= args.top2_max)
            & (F.col("n_ws_tokens") >= args.min_tokens)
        )
        if args.gopher:
            from bloomine_spark.operators.textops import gopher_quality

            cols = out.columns
            out = gopher_quality(
                out,
                min_words=args.gopher_min_words,
                min_stopwords=args.gopher_min_stopwords,
            ).filter("keep").select(*cols)
        if args.gopher_repetition:
            from bloomine_spark.operators.textops import gopher_repetition

            rep_keep = gopher_repetition(out).filter("keep").select("doc_id")
            out = out.join(rep_keep, "doc_id", "left_semi")
        return out

    filtered = runner.stage("filtered", _filter,
                            manifest=dict(manifest, stage="filtered"))

    def _dedup():
        canon = Window.partitionBy(F.md5("text"))
        out = (
            filtered.withColumn("_canon", F.min("doc_id").over(canon))
            .filter(F.col("doc_id") == F.col("_canon"))
            .drop("_canon")
        )
        if args.near_dup:
            from bloomine_spark.operators.dedup import (
                dedup_groups,
                minhash_lsh_duplicates,
            )

            pairs = minhash_lsh_duplicates(out, text_col="text")
            # pair → CLUSTER resolution (connected components), one
            # survivor per cluster — Jaccard is not transitive, so
            # pairwise loser-dropping both over-keeps (A~B~C with A≁C
            # keeps A and C) and can't honor a quality preference; the
            # group operator is what a real corpus dedup executes
            groups = dedup_groups(
                out, pairs, id_col="doc_id",
                quality_col="quality" if args.near_dup_keep == "quality"
                else None,
            )
            out = out.join(
                groups.filter(F.col("keep")).select("doc_id"),
                "doc_id", "left_semi",
            )
        elif args.soft_dedup:
            from bloomine_spark.operators.dedup import (
                minhash_lsh_duplicates,
                soft_dedup_weights,
            )

            pairs = minhash_lsh_duplicates(out, text_col="text")
            # reweight, don't drop: every doc survives with a sampling
            # weight inversely proportional to its near-dup group size
            # (mass-conserving — Σ weight = N)
            w = soft_dedup_weights(out, pairs)
            out = out.join(w, "doc_id")
        return out

    deduped = runner.stage("deduped", _dedup,
                           manifest=dict(manifest, stage="deduped"))

    if args.eval_set:
        from bloomine_spark.operators.dedup import decontaminate

        def _decontam():
            ev = spark.read.parquet(args.eval_set)
            return decontaminate(deduped, ev, n=args.decontam_n)

        deduped = runner.stage("decontam", _decontam,
                               manifest=dict(manifest, stage="decontam"))

    if args.trim_dup_spans:
        from bloomine_spark.operators.dedup import trim_dup_spans

        def _trim():
            cur = deduped
            t = trim_dup_spans(cur, k=args.trim_dup_spans).select(
                F.col("doc_id").alias("_tid"), F.col("text").alias("_ttext"),
                F.col("n_tok").alias("_tn"), "n_removed",
            )
            return (
                cur.drop("text")
                .join(t, cur["doc_id"].cast("string")
                      == F.col("_tid").cast("string"))
                .filter(F.col("_tn") >= args.min_tokens)
                .drop("_tid", "_tn")
                .withColumnRenamed("_ttext", "text")
            )

        deduped = runner.stage("trimmed", _trim,
                               manifest=dict(manifest, stage="trimmed"))

    if args.boilerplate_frac is not None:
        from bloomine_spark.operators.dedup import line_df_boilerplate

        def _boilerplate():
            cur = deduped
            bp = line_df_boilerplate(
                cur.select("doc_id", "source", "text"),
                group_col="source",
                max_doc_frac=args.boilerplate_frac,
            ).select(
                F.col("doc_id").alias("_bid"), F.col("text").alias("_btext"),
            )
            return (
                cur.drop("text")
                .join(bp, cur["doc_id"].cast("string")
                      == F.col("_bid").cast("string"))
                .filter(F.col("_btext") != "")
                .drop("_bid")
                .withColumnRenamed("_btext", "text")
            )

        deduped = runner.stage("boilerplate_cut", _boilerplate,
                               manifest=dict(manifest,
                                             stage="boilerplate_cut"))

    if args.line_dedup:
        from bloomine_spark.operators.dedup import line_dedup

        def _line_dedup():
            cur = deduped
            ld = line_dedup(cur).select(
                F.col("doc_id").alias("_lid"), F.col("text").alias("_ltext"),
                "n_lines_removed",
            )
            return (
                cur.drop("text")
                .join(ld, cur["doc_id"].cast("string")
                      == F.col("_lid").cast("string"))
                .filter(F.col("_ltext") != "")
                .drop("_lid")
                .withColumnRenamed("_ltext", "text")
            )

        deduped = runner.stage("line_deduped", _line_dedup,
                               manifest=dict(manifest, stage="line_deduped"))

    if args.split:
        from bloomine_spark.operators.packing import hash_split

        deduped = hash_split(deduped, "doc_id")

    (
        deduped.write.mode("overwrite")
        .partitionBy("source")
        .format(args.output_format)
        .save(f"{run_dir}/curated")
    )
    n = (
        spark.read.format(args.output_format)
        .load(f"{run_dir}/curated")
        .count()
    )
    print(f"curated docs: {n}")

    if args.pack is not None:
        # batch assembly: (train-split) curated docs -> optional
        # temperature mixture (deterministic copy counts) -> sharded
        # concat-and-chunk packing; the chunk manifest is what a data
        # loader shards over. Resumable like every other stage.
        from bloomine_spark.operators.mixture import (
            explode_epochs,
            realize_mixture,
            temperature_mixture_plan,
        )
        from bloomine_spark.operators.packing import pack_context_windows

        def _batches():
            d = spark.read.format(args.output_format).load(
                f"{run_dir}/curated"
            )
            if args.split:
                d = d.filter(F.col("split") == "train")
            d = d.select(
                "source",
                F.col("doc_id").cast("string").alias("doc_id"),
                F.col("n_ws_tokens").cast("long").alias("n_tok"),
            )
            if args.mixture_alpha is not None:
                plan = temperature_mixture_plan(
                    d,
                    alpha=args.mixture_alpha,
                    token_budget=args.token_budget,
                    budget_ratio=(1, 1),
                )
                d = explode_epochs(realize_mixture(d, plan)).withColumn(
                    "_ord", F.struct("epoch", "doc_id")
                )
            else:
                d = d.withColumn("_ord", F.col("doc_id"))
            return pack_context_windows(
                d,
                args.pack,
                group_col="source",
                order_col="_ord",
                ntok_col="n_tok",
                shards=args.pack_shards,
            )

        batches = runner.stage("batches", _batches,
                               manifest=dict(manifest, stage="batches"))
        stats = batches.groupBy("source").agg(
            F.count("*").alias("chunks"),
            F.sum("n_tokens").alias("tokens"),
        ).collect()
        for r in sorted(stats, key=lambda r: r["source"]):
            print(f"batches {r['source']}: {r['chunks']} chunks, "
                  f"{r['tokens']} tokens")
    print(f"stages ran: {runner.ran}  skipped (resume): {runner.skipped}")
    spark.stop()


if __name__ == "__main__":
    main()
