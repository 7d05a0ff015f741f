"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: median sec of 3 runs, ...}, "sf": <sf>,
   "tokens_per_sec": <sketch-update+merge throughput>,
   "recall": {<approx op vs exact companion>: fraction, ...},
   "query_spread_min_max": {name: [min, max], ...}, ...}

Per-query times are MEDIANS of 3 in-process runs (single-shot numbers on
this VM are ±2-4x, BENCH/VARIANCE.md); recall keys score each approximate
operator against its exact companion inside the same invocation.

The primary workload is the BASELINE.json metric: sketch-update+merge
throughput (tokens/sec) over a synthetic pre-tokenized sequences table
sized ∝ sf (the BlooMine-domain table; hash-generated, deterministic,
cached as parquet under .data/), plus the two-phase screen, cascade, dedup,
ANN, and relational headline queries over the driver testdata.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")
# sequences-table scale: ~270M tokens/sf-unit → sf0.1 ≈ 27M tokens
ROWS_PER_SF = 1_200_000


def _sf_of(path: str) -> float:
    base = os.path.basename(path.rstrip("/"))
    try:
        return float(base.replace("sf", ""))
    except ValueError:
        return 0.1


def _sequences(spark, sf: float):
    """Synthetic sequences table, generated once and cached as parquet so
    benched queries read through the real scan path."""
    from bloomine_spark.datagen import generate_sequences

    n_rows = max(int(ROWS_PER_SF * sf), 2000)
    path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), ".data", f"seq_{n_rows}.parquet"
    )
    if not os.path.isdir(path):
        generate_sequences(spark, n_rows, partitions=64).write.mode(
            "overwrite"
        ).parquet(path)
    return spark.read.parquet(path)


def _fastq_fixture(spark, sf: float) -> tuple[str, int]:
    """Deterministic per-sample FASTQ.gz fixture (~150bp DNA reads, planted
    forward/RC targets), generated once under .data/ — benches the raw-file
    scan surface (gzip + framing + tokenize + screen) per round."""
    import gzip

    import numpy as np

    n_reads = max(int(2_000_000 * sf), 4000)
    n_files = 16  # parallelism unit = files; keep ahead of local[N] cores
    root = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        ".data", f"fastq_{n_reads}")
    if not os.path.isdir(root):
        os.makedirs(root, exist_ok=True)
        t = "ACGGTTACCAGTTGACCAACGGTTACCAGTTGACCA"
        rc = t[::-1].translate(str.maketrans("ACGT", "TGCA"))
        per = n_reads // n_files
        bases = np.frombuffer(b"ACGT", dtype=np.uint8)
        for f in range(n_files):
            rng = np.random.default_rng(1000 + f)
            # one vectorized draw for the whole file, sliced per read
            flat = rng.choice(bases, size=per * 150)
            recs = []
            for i in range(per):
                seq = flat[i * 150:(i + 1) * 150].tobytes().decode()
                if i % 1000 == 0:
                    seq = seq[:40] + (t if i % 2000 == 0 else rc) + seq[40 + len(t):]
                recs.append(f"@f{f}r{i}\n{seq}\n+\n{'I' * 150}")
            with gzip.open(os.path.join(root, f"s{f}.fastq.gz"), "wb",
                           compresslevel=1) as fh:
                fh.write(("\n".join(recs) + "\n").encode())
    return root, n_reads


def _calibrate() -> dict:
    """Absolute environment anchor: a single-threaded bus-streaming numpy
    fold (48 MB multiply-shift + reduce — the regime the sketch kernels
    occupy). Intra-run dispersion gates catch SPIKY noise; this catches
    the box's documented ~2x SUSTAINED throttling windows (BENCH/BASELINE.md
    note 3), which inflate every query uniformly and are invisible to any
    relative gate. The best-ever value across runs is the baseline;
    environment_factor = today/best. Factor > 1.35 marks the record
    environment-degraded: absolute seconds from such a window must not be
    read as plan regressions (r6: a clean-code run measured 2.0x r5's
    suite in one of these windows)."""
    import numpy as np

    a = np.arange(6_000_000, dtype=np.uint64)
    best = float("inf")
    for _ in range(5):
        t0 = time.time()
        x = (a * np.uint64(0x9E3779B97F4A7C15)) >> np.uint64(33)
        _ = int(x.sum())
        best = min(best, time.time() - t0)
    hist_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH",
        "calibration_history.json",
    )
    hist = []
    if os.path.isfile(hist_path):
        with open(hist_path) as f:
            hist = json.load(f)
    # loadavg catches the anchor's blind spot: co-tenant CPU load steals
    # parallel headroom from local[32] without slowing this single thread
    # (measured: factor 1.001 while loadavg 4 inflated the suite ~18%)
    load1 = round(os.getloadavg()[0], 2)
    hist.append({"ts": time.strftime("%Y-%m-%dT%H:%M:%S"),
                 "sec": round(best, 4), "load1": load1})
    with open(hist_path, "w") as f:
        json.dump(hist, f, indent=1)
        f.write("\n")
    baseline = min(h["sec"] for h in hist)
    return {
        "calibration_sec": round(best, 4),
        "calibration_baseline_sec": baseline,
        "environment_factor": round(best / baseline, 3),
        "loadavg_1min_at_start": load1,
    }


def main():
    from pyspark.sql import functions as F

    from bloomine_spark.datagen import DEFAULT_TARGET
    from bloomine_spark.session import get_spark

    calib = _calibrate()
    sf = _sf_of(SF_DIR)
    spark = get_spark(
        master=f"local[{CPUS}]",
        app_name="bloomine-bench",
        shuffle_partitions=max(int(CPUS), 16),
        # console progress bars write \r-terminated frames to the same fd as
        # the result line — r4's driver capture lost half the JSON to them
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    seqs = _sequences(spark, sf)
    total_tokens = seqs.agg(F.sum("n_tok")).head()[0]

    # warm up JVM + python workers + arrow path so query 1 isn't charged
    # for process spinup
    from bloomine_spark.sketch.hll import HyperLogLog as _H
    from bloomine_spark.sketch.core import sketch_agg_global as _sag
    _sag(seqs.limit(2000), "tokens", lambda: _H.empty(8))

    times: dict[str, float] = {}
    spreads: dict[str, list] = {}
    all_samples: dict[str, list] = {}
    dispersion: dict[str, float] = {}
    degraded: list[str] = []

    # Self-qualifying run protocol (round-5 verdict #1): the r5 driver record
    # showed 4x intra-query spread ([0.84, 3.57]s across 3 repeats of one
    # query) in a noisy window and recorded a phantom 24% suite regression.
    # A run now has to EARN its number: if the tightest 3-sample window
    # still spans more than DISPERSION_GATE, keep sampling (up to
    # MAX_REPEATS); if it never settles, the record is flagged "degraded"
    # with the offending spreads so a noisy run can't masquerade as a
    # plan regression.
    DISPERSION_GATE = 1.5
    MAX_REPEATS = 7

    def _tightest3(xs):
        """Smallest max/min ratio over any 3 consecutive sorted samples."""
        s = sorted(xs)
        i = min(range(len(s) - 2), key=lambda i: s[i + 2] / max(s[i], 1e-9))
        return s[i:i + 3]

    def bench(name, fn, repeat=3):
        """Per-query median of the tightest 3-sample window; overdispersed
        queries self-extend to MAX_REPEATS samples before being flagged."""
        samples = []
        for _ in range(repeat):
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
        win = _tightest3(samples)
        while win[2] / win[0] > DISPERSION_GATE and len(samples) < MAX_REPEATS:
            t0 = time.time()
            fn()
            samples.append(time.time() - t0)
            win = _tightest3(samples)
        times[name] = round(win[1], 3)
        spreads[name] = [round(min(samples), 3), round(max(samples), 3)]
        all_samples[name] = [round(x, 3) for x in samples]
        dispersion[name] = round(win[2] / max(win[0], 1e-9), 3)
        if dispersion[name] > DISPERSION_GATE:
            degraded.append(name)
        return times[name]

    # --- sketch-update+merge throughput (the BASELINE metric) -------------
    from bloomine_spark.sketch.cms import CountMinSketch
    from bloomine_spark.sketch.core import sketch_agg, sketch_agg_global
    from bloomine_spark.sketch.hll import HyperLogLog
    from bloomine_spark.sketch.kll import KLL

    t_hll = bench(
        "hll_global_tokens",
        lambda: sketch_agg_global(seqs, "tokens", lambda: HyperLogLog.empty(12)),
    )
    bench(
        "cms_global_tokens",
        lambda: sketch_agg_global(
            seqs, "tokens", lambda: CountMinSketch.empty(1e-3, 1e-2)
        ),
    )
    bench(
        "kll_ntok",
        lambda: sketch_agg_global(seqs, "n_tok", lambda: KLL(k=200)),
    )
    bench(
        "hll_per_source",
        lambda: sketch_agg(
            seqs, ["source"], "tokens", lambda: HyperLogLog.empty(12)
        ).count(),
    )

    # --- two-phase screen --------------------------------------------------
    from bloomine_spark.operators.cascade import cascade
    from bloomine_spark.operators.screen import screen_hits

    bench(
        "screen_scored",
        lambda: screen_hits(seqs, DEFAULT_TARGET).count(),
    )
    bench(
        "screen_exact",
        lambda: screen_hits(seqs, DEFAULT_TARGET, mode="exact").count(),
    )

    def run_cascade():
        hits, s1, s2 = cascade(
            seqs, DEFAULT_TARGET[:12], DEFAULT_TARGET[12:], keep_tokens=False
        )
        hits.count()
        s1.unpersist()
        s2.unpersist()

    bench("cascade_two_flank", run_cascade)

    # --- raw-file surface: FASTQ.gz scan + DNA screen ----------------------
    from bloomine_spark.sources.fastq import (
        DNA_COMPLEMENT_MAP,
        read_fastq,
        tokenize_bases,
    )

    fq_root, fq_reads = _fastq_fixture(spark, sf)
    fq_target = tokenize_bases("ACGGTTACCAGTTGACCAACGGTTACCAGTTGACCA").tolist()
    bench(
        "fastq_scan_screen",
        lambda: screen_hits(
            read_fastq(spark, fq_root + "/*").drop("mate"),
            fq_target, complement_map=DNA_COMPLEMENT_MAP,
        ).count(),
    )

    # hits sink surface: re-emit EVERY scanned read as FASTQ records
    # (detokenize + original quals) through the Arrow-native write_fastq
    # kernel — r4's iterrows sink paid ~46s/1M reads, this one ~4s
    import shutil
    import tempfile

    from bloomine_spark.sources.fastq import write_fastq

    sink_dir = tempfile.mkdtemp(prefix="bm_sink_")

    def run_sink():
        write_fastq(
            read_fastq(spark, fq_root + "/*", keep_quality=True),
            os.path.join(sink_dir, "out"),
        )

    bench("fastq_hits_sink", run_sink)
    shutil.rmtree(sink_dir, ignore_errors=True)

    # --- pipeline + relational headliners over driver testdata -------------
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    # queries whose rows feed the recall metrics below get collected (all
    # tiny post-aggregation outputs); the rest are count()-driven
    collected: dict[str, list] = {}
    capture = {"minhash_lsh_dups", "ngram_jaccard_pairs", "ann_cosine_topk",
               "ann_ivf_topk", "embedding_near_dup_lsh", "ann_pq_topk",
               "harmonic_hosts_exact", "hyperball_harmonic_hosts"}
    for name in (
        "two_phase_screen",
        "minhash_lsh_dups",
        "ngram_jaccard_pairs",
        "ann_cosine_topk",
        "ann_ivf_topk",
        "embedding_near_dup_lsh",
        "lineitem_pricing_summary",
        "events_hourly_agg",
        "top_order_per_customer",
        "hll_distinct_kgrams_per_source",
        # r6: end-to-end batch assembly (temperature mixture -> epoch
        # explode -> 512-token packing) — new row, excluded from
        # suite-total comparisons against r5 and earlier records
        "epoch_pack_chunks",
        # r6 late additions (also excluded from the headline total):
        # cross-doc duplicated-span audit, DSIR importance, bigram LM,
        # Count-Sketch F2, BM25 retrieval
        "dup_span_coverage_per_source",
        "dsir_importance_per_source",
        "bigram_ppl_per_source",
        "countsketch_token_f2",
        "bm25_topk_per_source",
        # r6 fourth-session additions (excluded from the headline total):
        # Kneser–Ney LM, CCNet terciles, SemDeDup, UniMax, C4 rule pack
        "kn_ppl_per_source",
        "ccnet_ppl_buckets",
        "semdedup_assign",
        "unimax_alloc",
        "c4_clean",
        # r6 fifth-session addition (excluded): Best-Fit-Decreasing
        # whole-document packing (Ding 2024)
        "bestfit_pack_bins",
        # r6 sixth-session additions (excluded): full Gopher repetition
        # rule pack (Rae 2021 Table A1), Dirichlet query likelihood
        # (Zhai & Lafferty 2001)
        "gopher_repetition_rules",
        "ql_dirichlet_topk_per_source",
        # r6 sixth-session additions (excluded): RefinedWeb line-wise
        # corrections (Penedo 2023 G.2), Heaps' law vocab-growth fit
        "refinedweb_line_correct",
        "heaps_fit_per_source",
        # r6 sixth-session addition (excluded): GPT-3 surgical window
        # decontamination (Brown 2020 App. C)
        "gpt3_window_decontaminate",
        # r6 sixth-session additions (excluded): RAVEN n-gram novelty,
        # trained hashed-bigram NB classifier
        "ngram_novelty_per_source",
        "nb_langid_confusion",
        # r6 sixth-session additions (excluded): CCNet normalization,
        # deterministic hash sampling, WordPiece greedy segmentation
        "ccnet_normalize",
        "sample_by_hash",
        "wordpiece_fertility_per_source",
        # r6 sixth-session addition (excluded): SentencePiece-style
        # unigram Viterbi segmentation (Kudo 2018)
        "unigram_segment_stats_per_source",
        # r6 seventh-session additions (excluded): SoftDedup reweighting
        # (He 2024), DLT priority sampling, PQ/ADC ANN (Jégou 2011)
        "soft_dedup_weights",
        "priority_sample_per_source",
        "ann_pq_topk",
        # r6 eighth-session additions (excluded): web front-end — HTML
        # extraction, URL canonicalize+filter, URL dedup with host cap
        "html_extract_docs",
        "html_main_extract_docs",
        "html_meta_docs",
        "robots_filter_docs",
        "sitemap_entries_docs",
        "line_dedup_docs",
        "url_canonical_filter",
        "url_host_cap_dedup",
        # r6 eighth-session additions (excluded): crawl graph — anchor
        # extraction + host-level PageRank + harmonic centrality
        # (exact BFS closure and its HyperBall sketch twin)
        "html_links_docs",
        "pagerank_hosts",
        "trustrank_hosts",
        "harmonic_hosts_exact",
        "hyperball_harmonic_hosts",
        # r6 ninth-session additions (excluded): temporal family — as-of
        # attribution (union+window, no join node), windowed funnel,
        # weekly retention cohorts, ROLLUP cube face
        "asof_click_attribution",
        "funnel_signup_click_purchase",
        "retention_weekly_cohorts",
        "events_rollup_day",
        # r6 ninth-session additions (excluded): corpus analytics —
        # PMI/LLR collocations, phrase search, TextRank, readability
        "pmi_collocations_topk",
        "phrase_search_docs",
        "textrank_keywords",
        "readability_per_source",
        # graph-mining / keyness / containment additions (excluded)
        "triangle_clustering_hosts",
        "lpa_communities_hosts",
        "ngram_containment_pairs",
        "distinctive_terms_per_source",
        # linkage / robust-stats / cube additions (excluded)
        "events_cube_day",
        "fuzzy_edit_pairs_docs",
        "er_canonical_docs",
        "fingerprint_clusters_docs",
        "mad_outlier_docs",
        "winsorize_stats_docs",
        # time-series / SCD2 / k-core additions (excluded)
        "rolling_user_value_7d",
        "ewma_user_value",
        "scd2_user_state",
        "kcore_hosts",
        "zorder_key_events",
        # r6 twelfth-session additions (excluded): HITS hubs/authorities,
        # per-host line-document-frequency boilerplate removal
        "hits_hosts",
        "boilerplate_line_df_docs",
        # r6 twelfth-session additions (excluded): privacy release gate —
        # k-anonymity/l-diversity audit + generalization-to-k ladder
        "k_anonymity_audit_customers",
        "generalize_k_customers",
        # r6 twelfth-session addition (excluded): blocked Jaro-Winkler
        "jw_pairs_names",
        # r6 twelfth-session additions (excluded): one-pass profiling,
        # exact equal-frequency binning
        "profile_lineitem",
        "binned_price_orders",
        # r6 twelfth-session addition (excluded): Soundex-blocked JW
        "phonetic_jw_pairs_names",
        # r6 twelfth-session addition (excluded): lnc.ltc TF-IDF cosine
        "tfidf_cosine_topk_per_source",
        # r6 twelfth-session addition (excluded): incremental dedup
        # screen against a persisted corpus index
        "incremental_screen_docs",
        # r6 twelfth-session addition (excluded): incremental SCD2
        "scd2_apply_user_state",
        # r6 twelfth-session addition (excluded): RAG chunking
        "chunk_documents",
        # r6 twelfth-session addition (excluded): crawl politeness
        "politeness_schedule_urls",
        # r6 twelfth-session additions (excluded): snapshot churn,
        # cross-source contamination matrix
        "snapshot_diff_docs",
        "source_overlap_docs",
        # r6 twelfth-session addition (excluded): Unicode script triage
        "script_mix_docs",
    ):
        if name in capture:
            def run(n=name):
                collected[n] = qs[n](spark, SF_DIR).collect()
            bench(f"q_{name}", run)
        else:
            bench(f"q_{name}", lambda n=name: qs[n](spark, SF_DIR).count())

    # --- approximation quality alongside seconds ---------------------------
    # each approximate operator is scored against its exact companion run
    # in the SAME bench invocation, so BENCH_r{N}.json carries accuracy
    # per round, not just wall-clock
    def _pairs(name, ka="id_a", kb="id_b"):
        return {(r[ka], r[kb]) for r in collected[name]}

    recall = {}
    exact_pairs = _pairs("ngram_jaccard_pairs")
    if exact_pairs:
        # MinHash estimates Jaccard over the same word-3-gram domain at the
        # same 0.5 threshold; estimate noise around the cut costs recall
        recall["minhash_lsh_vs_exact_jaccard_pairs"] = round(
            len(_pairs("minhash_lsh_dups") & exact_pairs) / len(exact_pairs), 4
        )
    exact_nn = _pairs("ann_cosine_topk", "query_id", "neighbor_id")
    if exact_nn:
        recall["ann_ivf_recall_at_10"] = round(
            len(_pairs("ann_ivf_topk", "query_id", "neighbor_id") & exact_nn)
            / len(exact_nn), 4
        )
        recall["ann_pq_recall_at_10"] = round(
            len(_pairs("ann_pq_topk", "query_id", "neighbor_id") & exact_nn)
            / len(exact_nn), 4
        )
    # the embedding-LSH query plants 10 clone pairs (vec_id, vec_id+1e6) —
    # the only ≥0.9-cosine pairs in the fixture (see _q_embedding_near_dup_lsh)
    planted = {(i, i + 1_000_000) for i in range(10)}
    recall["embedding_lsh_planted_pair_recall"] = round(
        len(_pairs("embedding_near_dup_lsh") & planted) / len(planted), 4
    )

    # HyperBall vs exact harmonic centrality on the same host graph
    h_exact = {r["node"]: r["harmonic"] for r in collected["harmonic_hosts_exact"]}
    h_est = {r["node"]: r["harmonic_est"]
             for r in collected["hyperball_harmonic_hosts"]}
    rel = [abs(h_est[k] - v) / v for k, v in h_exact.items() if v > 0]
    if rel:
        recall["hyperball_harmonic_mean_rel_err"] = round(
            float(sum(rel) / len(rel)), 4
        )

    # rows added after the r5 record: measured and reported, but kept OUT
    # of the headline total so `value` stays comparable round-over-round
    # (the r5 verdict's lesson: never let the scoring scalar drift for
    # reasons that aren't plan changes)
    new_rows = {
        "q_epoch_pack_chunks",
        "q_dup_span_coverage_per_source",
        "q_dsir_importance_per_source",
        "q_bigram_ppl_per_source",
        "q_countsketch_token_f2",
        "q_bm25_topk_per_source",
        "q_kn_ppl_per_source",
        "q_ccnet_ppl_buckets",
        "q_semdedup_assign",
        "q_unimax_alloc",
        "q_c4_clean",
        "q_bestfit_pack_bins",
        "q_gopher_repetition_rules",
        "q_ql_dirichlet_topk_per_source",
        "q_refinedweb_line_correct",
        "q_heaps_fit_per_source",
        "q_gpt3_window_decontaminate",
        "q_ngram_novelty_per_source",
        "q_nb_langid_confusion",
        "q_ccnet_normalize",
        "q_sample_by_hash",
        "q_wordpiece_fertility_per_source",
        "q_unigram_segment_stats_per_source",
        # r6 seventh session (these three were measured from the start
        # but mistakenly left OUT of this exclusion set — they inflated
        # any headline run taken between those commits and this fix)
        "q_soft_dedup_weights",
        "q_priority_sample_per_source",
        "q_ann_pq_topk",
        # r6 eighth session
        "q_html_extract_docs",
        "q_html_main_extract_docs",
        "q_html_meta_docs",
        "q_robots_filter_docs",
        "q_sitemap_entries_docs",
        "q_line_dedup_docs",
        "q_url_canonical_filter",
        "q_url_host_cap_dedup",
        "q_html_links_docs",
        "q_pagerank_hosts",
        "q_trustrank_hosts",
        "q_harmonic_hosts_exact",
        "q_hyperball_harmonic_hosts",
        # r6 ninth session
        "q_asof_click_attribution",
        "q_funnel_signup_click_purchase",
        "q_retention_weekly_cohorts",
        "q_events_rollup_day",
        "q_pmi_collocations_topk",
        "q_phrase_search_docs",
        "q_textrank_keywords",
        "q_readability_per_source",
        "q_triangle_clustering_hosts",
        "q_lpa_communities_hosts",
        "q_ngram_containment_pairs",
        "q_distinctive_terms_per_source",
        # r6 tenth session
        "q_events_cube_day",
        "q_fuzzy_edit_pairs_docs",
        "q_er_canonical_docs",
        "q_fingerprint_clusters_docs",
        "q_mad_outlier_docs",
        "q_winsorize_stats_docs",
        "q_rolling_user_value_7d",
        "q_ewma_user_value",
        "q_scd2_user_state",
        "q_kcore_hosts",
        "q_zorder_key_events",
        # r6 twelfth session
        "q_hits_hosts",
        "q_boilerplate_line_df_docs",
        "q_k_anonymity_audit_customers",
        "q_generalize_k_customers",
        "q_jw_pairs_names",
        "q_profile_lineitem",
        "q_binned_price_orders",
        "q_phonetic_jw_pairs_names",
        "q_tfidf_cosine_topk_per_source",
        "q_incremental_screen_docs",
        "q_scd2_apply_user_state",
        "q_chunk_documents",
        "q_politeness_schedule_urls",
        "q_snapshot_diff_docs",
        "q_source_overlap_docs",
        "q_script_mix_docs",
    }
    total = round(
        sum(t for n, t in times.items() if n not in new_rows), 3
    )
    out = {
        "metric": "headline suite wall-clock (sketch+screen+pipeline)",
        "value": total,
        "new_rows_sec": {n: times[n] for n in sorted(new_rows) if n in times},
        "new_rows_excluded_from_value": sorted(new_rows),
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(CPUS),
        "sequences_rows": seqs.count(),
        "sequences_tokens": int(total_tokens),
        # min-sample estimator: on a contended box the MINIMUM repeat is the
        # least noise-contaminated measure of the kernel's real cost (noise
        # only ever adds time); the r5 record derived tokens/s from one
        # noisy median and booked a phantom 30% throughput drop
        "tokens_per_sec": int(total_tokens / min(all_samples["hll_global_tokens"])),
        "tokens_per_sec_median": int(total_tokens / t_hll),
        "recall": recall,
        "query_spread_min_max": spreads,
        "query_samples": all_samples,
        "query_dispersion": dispersion,
        "dispersion_gate": DISPERSION_GATE,
        "degraded": bool(degraded),
        "degraded_queries": {n: spreads[n] for n in degraded},
        "repeats_per_query": f"3-{MAX_REPEATS} (self-extending)",
        "estimator": "median of tightest 3-sample window",
        **calib,
        "environment_degraded": (
            calib["environment_factor"] > 1.35
            or calib["loadavg_1min_at_start"] > 8.0
        ),
        "value_env_normalized_estimate": round(
            total / calib["environment_factor"], 3
        ),
    }
    # attach the latest N-vs-4N scaling evidence (BENCH/scaling.py)
    scaling_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "scaling.json"
    )
    if os.path.isfile(scaling_path):
        with open(scaling_path) as f:
            out["scaling"] = json.load(f)
    # attach the latest skew-stress evidence (BENCH/skew.py: salted vs
    # unsalted per-task straggler factor, gate salted p99/median ≤ 2)
    skew_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "skew.json"
    )
    if os.path.isfile(skew_path):
        with open(skew_path) as f:
            out["skew"] = json.load(f)

    # Full record goes to a FILE (the durable artifact); stdout gets one
    # COMPACT line printed after spark.stop() so no executor/progress noise
    # can interleave with it. BENCH_r04.json lost half its medians because
    # the driver tail-captured a single ~3KB line printed mid-session.
    full_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH", "last_run.json"
    )
    with open(full_path, "w") as f:
        json.dump(out, f, indent=2)
        f.write("\n")
    compact = {
        "metric": out["metric"],
        "value": total,
        "unit": "sec",
        "queries": times,
        "sf": sf,
        "cpus": int(CPUS),
        "tokens_per_sec": out["tokens_per_sec"],
        "new_rows_excluded_from_value": out["new_rows_excluded_from_value"],
        "recall": recall,
        "degraded": out["degraded"],
        "degraded_queries": out["degraded_queries"],
        "environment_factor": out["environment_factor"],
        "environment_degraded": out["environment_degraded"],
        "value_env_normalized_estimate": out["value_env_normalized_estimate"],
        "full_record": "BENCH/last_run.json",
    }
    spark.stop()
    sys.stdout.flush()
    print(json.dumps(compact, separators=(",", ":")), flush=True)


if __name__ == "__main__":
    main()
