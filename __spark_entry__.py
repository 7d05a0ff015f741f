"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship two-phase screen on sf0.001;
``queries()`` exposes one callable per implemented operator from
SURVEY.md §2 (screen F1/F3/F4, cascade J1/J3, MOI A6/W3/W4, polyfamily
W1/W2/A8, aggregations A2/A4-A7, sketches from the north rule, skew
handling); ``oracle_sql()`` gives the DuckDB-equivalent ANSI SQL for every
exactly-SQL-expressible query. Sketch-estimate queries (HLL/CMS/KLL/
t-digest) intentionally have NO oracle entry — approximate answers cannot
hash-match exact SQL; their error bounds are gated in tests/ instead, and
each has an exact companion query here that IS oracle-checked.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from bloomine_spark.params import ScreenParams  # noqa: E402

# ---------------------------------------------------------------------------
# shared constants (patterns chosen to occur at every scale factor)
# ---------------------------------------------------------------------------
PATTERN = "stream table hash"          # flagship screen target phrase
MOI_HEAD = "sort slow value"           # MOI head flank phrase
MOI_TAIL = "big part merge"            # MOI tail flank phrase
BANNED_WORDS = ["slow", "error"]       # bloom membership filter fixture
DOC_PARAMS = ScreenParams(k=2)         # word-domain screening: bigram windows

_STOPWORDS = ["the", "a"]


def _ensure_path():
    here = os.path.dirname(os.path.abspath(__file__))
    if here not in sys.path:
        sys.path.insert(0, here)


def _docs_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from bloomine_spark.sources.tables import load_table, tokenize_documents

    return tokenize_documents(load_table(spark, sf_dir, "documents"))


def _pattern_tokens(spark: SparkSession, phrase: str) -> list[int]:
    from bloomine_spark.sources.tables import tokenize_phrase

    return tokenize_phrase(spark, phrase)


def _ship_pkg(spark: SparkSession) -> None:
    from bloomine_spark.session import ship_package

    try:
        ship_package(spark)
    except Exception:
        pass  # no SparkContext, or a same-named zip from another path


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: two-phase Bloom-prescreen + exact-verify screen of the
    target phrase over tokenized documents at sf0.001."""
    _ensure_path()
    _ship_pkg(spark)
    return _q_two_phase_screen(spark, "/root/testdata/sf0.001")


# ---------------------------------------------------------------------------
# the queries
# ---------------------------------------------------------------------------

def _q_two_phase_screen(spark, sf_dir):
    """F1+F3: Bloom k-gram prescreen → exact token-subarray verify."""
    _ship_pkg(spark)
    from bloomine_spark.operators.screen import screen_hits

    seqs = _docs_tokens(spark, sf_dir)
    pat = _pattern_tokens(spark, PATTERN)
    return (
        screen_hits(seqs, pat, DOC_PARAMS, mode="exact", rc_retry=False)
        .select("doc_id", "source")
    )


def _q_screen_hits_per_source(spark, sf_dir):
    """A3/U1: hit counts per source partition."""
    return (
        _q_two_phase_screen(spark, sf_dir)
        .groupBy("source")
        .agg(F.count("*").alias("n_hits"))
    )


def _q_bloom_token_filter(spark, sf_dir):
    """F1 at k=1: Bloom membership prescreen of banned tokens + exact verify."""
    _ship_pkg(spark)
    import numpy as np

    from bloomine_spark.functions.hashing import hash_u64
    from bloomine_spark.sketch.bloom import BloomFilter

    seqs = _docs_tokens(spark, sf_dir)
    banned = [_pattern_tokens(spark, w)[0] for w in BANNED_WORDS]
    bf = BloomFilter.build(hash_u64(np.array(banned, dtype=np.int64)), 1e-4)
    bf_bytes = bf.to_bytes()
    banned_arr = np.array(banned, dtype=np.int64)
    bc = spark.sparkContext.broadcast((bf_bytes, banned_arr))

    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.StringType()),
            T.StructField("source", T.StringType()),
        ]
    )

    def kernel(batches):
        from bloomine_spark.functions.kgrams import flatten_token_series

        blob, banned_local = bc.value
        filt = BloomFilter.from_bytes(blob)
        banned_sorted = np.sort(banned_local)
        for pdf in batches:
            if len(pdf) == 0:
                continue
            batch = flatten_token_series(pdf["tokens"])
            h = hash_u64(batch.flat.astype(np.int64))
            maybe = filt.contains_hashes(h)  # phase 1: bloom prescreen
            exact = np.zeros(len(batch.flat), dtype=bool)
            if maybe.any():  # phase 2: exact verify of prescreen survivors
                idx = np.searchsorted(banned_sorted, batch.flat[maybe].astype(np.int64))
                idx = np.minimum(idx, len(banned_sorted) - 1)
                exact[np.flatnonzero(maybe)] = (
                    banned_sorted[idx] == batch.flat[maybe].astype(np.int64)
                )
            row_hit = np.zeros(batch.n_rows, dtype=bool)
            pos_rows = np.repeat(np.arange(batch.n_rows), batch.lens)
            np.logical_or.at(row_hit, pos_rows, exact)
            out = pdf.loc[row_hit, ["doc_id", "source"]]
            if len(out):
                yield out

    return seqs.mapInPandas(kernel, schema=schema)


def _q_moi_variant_lengths(spark, sf_dir):
    """Cascade (J3) + MOI extraction (W3/W4) + length-variant counts (A6):
    docs containing head then tail flank; count inter-flank token lengths.
    Restricted to forward-ordered anchors so the SQL oracle is expressible;
    full RC/flip semantics are pytest-gated (tests/test_cascade_moi.py)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.cascade import cascade, extract_targets

    seqs = _docs_tokens(spark, sf_dir)
    head = _pattern_tokens(spark, MOI_HEAD)
    tail = _pattern_tokens(spark, MOI_TAIL)
    p = ScreenParams(k=2)
    hits, _s1, _s2 = cascade(seqs, head, tail, p)
    ex = extract_targets(hits, head, tail, min_kmer=len(head))
    return (
        ex.filter((F.col("orientation") == "+") & (F.col("head_pos") <= F.col("tail_pos")))
        .select(F.size("extracted").alias("variant_len"))
        .groupBy("variant_len")
        .agg(F.count("*").alias("n"))
    )


def _q_cascade_combined_scores(spark, sf_dir):
    """The REAL J1 merge on token-domain score logs: cascade both MOI
    flanks, per-(doc,rc,flank) max, full-outer merge, null-safe pass flag
    (/root/reference/bloomine/BloomineRunner.py:205-274). SP scores are not
    SQL-expressible in general, but with k=2 the gap threshold is 1 (every
    gap splits fragments), so the X9 fragment DP collapses to a prefix-sum
    + running-max recurrence the oracle expresses with window functions —
    the full merge is oracle-HASH-checked (r5 verdict #3). Bloom FP is
    1e-9 here so the score-log row set is Bloom-FP-free at any test scale
    (a realized FP emits a score-0 row no SQL oracle can predict; 1e-4
    realizes several on this corpus — r1 'oracle must share bloom' rule)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.cascade import cascade, combined_flank_scores
    from bloomine_spark.operators.screen import prepare_target

    seqs = _docs_tokens(spark, sf_dir)
    head = _pattern_tokens(spark, MOI_HEAD)
    tail = _pattern_tokens(spark, MOI_TAIL)
    p = ScreenParams(k=2, false_positive=1e-9)
    _hits, s1, s2 = cascade(seqs, head, tail, p)
    thr1 = prepare_target(head, p).mst
    thr2 = prepare_target(tail, p).mst
    return combined_flank_scores(s1, s2, thr1, thr2)


def _q_flank_log_merge_events(spark, sf_dir):
    """J1/A4/A5 relational shape on driver data: per-user best scores from
    two 'flank' event families, full-outer merged with a null-safe pass flag
    (semantics of /root/reference/bloomine/BloomineRunner.py:236-274)."""
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    thr1, thr2 = 50.0, 50.0
    f1 = ev.filter(F.col("event_type").isin("click", "view")).groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "click", F.col("value"))).alias("f1_score"),
        F.max(F.when(F.col("event_type") == "view", F.col("value"))).alias("f1_rc_score"),
    )
    f2 = ev.filter(F.col("event_type").isin("purchase", "error")).groupBy("user_id").agg(
        F.max(F.when(F.col("event_type") == "purchase", F.col("value"))).alias("f2_score"),
        F.max(F.when(F.col("event_type") == "error", F.col("value"))).alias("f2_rc_score"),
    )
    j = f1.join(f2, "user_id", "full_outer")
    f1b = F.greatest("f1_score", "f1_rc_score")
    f2b = F.greatest("f2_score", "f2_rc_score")
    return j.select(
        "user_id", "f1_score", "f1_rc_score", "f2_score", "f2_rc_score",
        F.when(
            f1b.isNotNull() & f2b.isNotNull() & (f1b >= thr1) & (f2b >= thr2), 1
        ).otherwise(0).alias("pass_flag"),
    )


def _q_argmax_probe_lineitem(spark, sf_dir):
    """W1 argmax: per order, the supplier with max total quantity, ties →
    smaller suppkey (choose_best_probes semantics on relational data)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.cascade import choose_best_probes
    from bloomine_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.col("l_orderkey").cast("string").alias("doc_id"),
        F.col("l_suppkey").cast("string").alias("target_id"),
    ).agg(F.sum("l_quantity").cast("long").alias("total_score"))
    return choose_best_probes(per)


def _q_top_order_per_customer(spark, sf_dir):
    """W1 relational twin on orders: per customer the max-price order,
    ties → smaller orderkey."""
    from pyspark.sql import Window

    from bloomine_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


def _q_max_sum_lineitems(spark, sf_dir):
    """A8 relational twin: per supplier (probe), keep the orders (docs)
    whose total quantity equals the supplier's max — ties preserved, unlike
    the W1 argmax (max_sum_reads semantics,
    /root/reference/bloomine/polyfamily.py:145-147)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.cascade import max_sum_reads
    from bloomine_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    per = li.groupBy(
        F.col("l_orderkey").cast("string").alias("doc_id"),
        F.col("l_suppkey").cast("string").alias("target_id"),
    ).agg(F.sum("l_quantity").cast("long").alias("total_score"))
    return max_sum_reads(per)


def _q_flank_intersection_customers(spark, sf_dir):
    """J2 relational twin: customers present in BOTH score sets (best order
    price, account balance) with each best above its threshold —
    flank_intersection semantics (inner join == keyset intersection,
    /root/reference/bloomine/polyfamily.py:84-101)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.cascade import flank_intersection
    from bloomine_spark.sources.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    s1 = o.select(
        F.col("o_custkey").alias("doc_id"), F.col("o_totalprice").alias("score")
    )
    s2 = c.select(
        F.col("c_custkey").alias("doc_id"), F.col("c_acctbal").alias("score")
    )
    return flank_intersection(s1, s2, 300000.0, 5000.0)


def _kgram_str_expr(n: int):
    """Word n-gram strings via pure built-ins (W3 relational analog).

    Guarded for short docs: sequence(0, size-n) with size<n would produce
    the DESCENDING array [0, -1, ...] (Spark sequence semantics), and the
    transform would then crash on slice(words, 0, n) — so docs with fewer
    than n words yield an empty gram array instead.
    """
    # zip_with ladder (see operators/dedup._word_shingles_expr): element j
    # of round k is words[j..j+k] space-joined — byte-identical grams to
    # the old per-index slice+concat_ws transform at ~6x less expression
    # work (no per-gram array slice, one linear pass per round)
    words = F.split(F.col("text"), " ")
    g = words
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.when(
        F.size(words) >= n,
        F.slice(g, 1, F.size(words) - n + 1),
    ).otherwise(F.array().cast("array<string>"))


def _q_distinct_kgrams_per_source_exact(spark, sf_dir):
    """A2: exact distinct word-3-gram count per source."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.size(F.split(F.col("text"), " ")) >= 3
    )
    return (
        docs.select("source", F.explode(_kgram_str_expr(3)).alias("g"))
        .groupBy("source")
        .agg(F.countDistinct("g").alias("n_distinct"))
    )


def _q_hll_distinct_kgrams_per_source(spark, sf_dir):
    """A2 + north rule: HLL estimate of distinct 3-gram count per source
    (no oracle — approximate; bound-gated in tests/test_sketches.py;
    oracle-HASH twin with portable hashing: hll_relational_per_source)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import estimates_df, sketch_agg
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # gram hashes ride as ONE array column per doc into the Arrow fold
    # kernel (which flattens list columns natively) instead of a per-gram
    # exploded row — same xxhash64 values, same HLL registers, but the
    # JVM->Python boundary carries |docs| rows, not |gram occurrences|
    # (guide §4: fewer, larger batches across the boundary)
    grams = docs.select(
        "source",
        F.transform(_kgram_str_expr(3), lambda g: F.xxhash64(g)).alias("gh"),
    )
    factory = lambda: __import__(  # noqa: E731
        "bloomine_spark.sketch.hll", fromlist=["HyperLogLog"]
    ).HyperLogLog.empty(12)
    agg = sketch_agg(grams, ["source"], "gh", factory)
    return estimates_df(agg, factory, lambda h: h.estimate(), "est_distinct").select(
        "source", "est_distinct"
    )


def _q_token_freq_topk_exact(spark, sf_dir):
    """A7/O2 shape: exact top-20 word frequencies, deterministic tiebreak."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select(F.explode(F.split(F.col("text"), " ")).alias("word"))
        .groupBy("word")
        .agg(F.count("*").alias("freq"))
        .orderBy(F.desc("freq"), F.asc("word"))
        .limit(20)
    )


def _q_cms_token_freq_topk(spark, sf_dir):
    """North rule CMS: estimated frequencies for the Misra–Gries top-20
    tokens. Probe keys come from the MG heavy-hitters sketch — both
    sketches are one-pass mergeable aggregations, so no exact wordcount or
    driver-side collect of the corpus is needed anywhere (no oracle —
    approximate; ε–δ bound gated in tests; oracle-HASH twin with portable
    hashing: cms_relational_topk)."""
    _ship_pkg(spark)
    import numpy as np

    from bloomine_spark.sketch.cms import CountMinSketch
    from bloomine_spark.sketch.core import sketch_agg_global
    from bloomine_spark.sketch.mg import MisraGries

    from bloomine_spark.sketch.core import CompositeSketch

    seqs = _docs_tokens(spark, sf_dir)
    # CMS + MG are both one-pass mergeable folds over the same corpus:
    # a composite sketch pays the scan once instead of twice
    comp = sketch_agg_global(
        seqs,
        "tokens",
        lambda: CompositeSketch(
            [CountMinSketch.empty(1e-3, 1e-2), MisraGries(256)]
        ),
    )
    cms, mg = comp.sketches
    toks = np.array([t for t, _ in mg.top_k(20)], dtype=np.int64)
    est = cms.estimate_values(toks)
    return spark.createDataFrame(
        [(int(t), int(e)) for t, e in zip(toks, est)], ["token", "est_freq"]
    )


def _q_token_f2_per_source_exact(spark, sf_dir):
    """Exact second moment of the per-source token frequency vector —
    F2 = Σ_x f_x² (with n_tok and type counts): the repeated-token mass
    the AMS/Count-Sketch estimator targets; its oracle-hash companion."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    per_word = tok.groupBy("source", "word").agg(
        F.count("*").cast("long").alias("c")
    )
    return per_word.groupBy("source").agg(
        F.count("*").cast("long").alias("n_types"),
        F.sum("c").cast("long").alias("n_tok"),
        F.sum(F.col("c") * F.col("c")).cast("long").alias("f2"),
    )


def _q_countsketch_token_f2(spark, sf_dir):
    """North rule Count-Sketch/AMS: per-source F2 estimates from a d×w
    signed-counter sketch (merge = elementwise add, counter-exact under
    any grouping). Row-aligned with token_f2_per_source_exact (no oracle
    — approximate; bounds + associativity gated in pytest). Estimates
    token-id F2 == word F2 (xxhash64 tokenization is injective mod
    vanishing collisions)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import estimates_df, sketch_agg
    from bloomine_spark.sketch.countsketch import CountSketch

    seqs = _docs_tokens(spark, sf_dir)
    factory = lambda: CountSketch.empty(0.02, 1e-2)  # noqa: E731
    states = sketch_agg(seqs, ["source"], "tokens", factory)
    return estimates_df(
        states, factory, lambda s: s.f2_estimate(), out_col="f2_est"
    ).select("source", F.col("f2_est").cast("long").alias("f2_est"))


def _q_countsketch_relational_f2(spark, sf_dir):
    """Count-Sketch/AMS F2 as pure Catalyst algebra over portable md5
    hashes — the oracle-HASH twin of countsketch_token_f2: DuckDB
    rebuilds the identical signed-counter table, so the estimate (incl.
    collision noise) hash-matches. d=5 seeds, w=1024, exact relational
    median (rank 3 by (f2, seed))."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import countsketch_relational_f2
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(F.split("text", " ")).alias("word")
    )
    return countsketch_relational_f2(tok, "source", "word")


def _q_ntok_quantiles_per_source_exact(spark, sf_dir):
    """Exact interpolated n_tok quantiles per source."""
    seqs = _docs_tokens(spark, sf_dir)
    return seqs.groupBy("source").agg(
        F.round(F.expr("percentile(n_tok, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(n_tok, 0.75)"), 4).alias("p75"),
    )


def _q_kll_ntok_quantiles(spark, sf_dir):
    """North rule KLL: per-source n_tok quantile estimates (no oracle).

    Row-aligned with `ntok_quantiles_per_source_exact` — same grouping,
    same (source, p25, p50, p75) shape — so the sketch/exact comparison
    is row-by-row, matching `tdigest_ntok_quantiles`'s per-source form
    (r5 verdict #6; the old global 5-row shape had no aligned companion).
    """
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import estimates_df, sketch_agg
    from bloomine_spark.sketch.kll import KLL

    seqs = _docs_tokens(spark, sf_dir)
    factory = lambda: KLL(k=200)  # noqa: E731
    agg = sketch_agg(seqs, ["source"], "n_tok", factory)
    for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        agg = estimates_df(
            agg, factory, lambda s, q=q: s.quantiles([q])[0], name
        )
    return agg.select("source", "p25", "p50", "p75")


def _q_tdigest_ntok_quantiles(spark, sf_dir):
    """North rule t-digest: per-source p50/p90 estimates (no oracle)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import STATE_COL, sketch_agg
    from bloomine_spark.sketch.tdigest import TDigest

    from bloomine_spark.sketch.core import estimates_df

    seqs = _docs_tokens(spark, sf_dir)
    factory = lambda: TDigest(100.0)  # noqa: E731
    agg = sketch_agg(seqs, ["source"], "n_tok", factory)
    agg = estimates_df(agg, factory, lambda t: t.quantile(0.5), "p50")
    agg = estimates_df(agg, factory, lambda t: t.quantile(0.9), "p90")
    return agg.select("source", "p50", "p90")


def _q_events_hourly_agg(spark, sf_dir):
    """Streaming-analog tumbling window aggregation (batch form)."""
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        )
        .agg(
            F.count("*").alias("n_events"),
            # exact decimal sum: order-independent vs the oracle
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(F.col("w.start").alias("hour_start"), "event_type", "n_events", "sum_value")
    )


def _q_events_sessionize(spark, sf_dir):
    """Sessionization (gaps-and-islands): per user, a new session starts
    after a >30-minute gap; emit per-session event counts and value sums.
    Window lag + conditional cumsum — the batch form of stateful
    session-window streaming."""
    from pyspark.sql import Window

    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts")
    # ts is TIMESTAMP_NTZ; timestampdiff on NTZ is pure wall-clock
    # arithmetic, so the gap computation is timezone-independent (no
    # session-timezone mutation needed). Microsecond resolution matches the
    # oracle's epoch_us difference exactly — no truncation boundary.
    with_prev = ev.withColumn("prev_ts", F.lag("ts").over(w))
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    with_flag = with_prev.withColumn(
        "new_session",
        F.when(gap_us.isNull() | (gap_us > 1_800_000_000), F.lit(1)).otherwise(
            F.lit(0)
        ),
    )
    with_sid = with_flag.withColumn(
        "session_id", F.sum("new_session").over(
            Window.partitionBy("user_id").orderBy("ts")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
    )
    # value is summed as DECIMAL(18,6) so the aggregate is exact and
    # order-independent — a plain double SUM's result depends on partition
    # merge order and can flip a ROUND(...,4) digit vs the oracle
    return with_sid.groupBy("user_id", "session_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
        .cast("double")
        .alias("sum_value"),
        F.min("ts").alias("session_start"),
    )


def _q_lineitem_pricing_summary(spark, sf_dir):
    """TPC-H Q1-style aggregation (partial-agg/codegen showcase)."""
    from bloomine_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: c.cast("decimal(18,6)")  # noqa: E731 — exact, order-independent sums
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(dec(F.col("l_quantity"))), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(dec(F.col("l_extendedprice"))), 2)
            .cast("double")
            .alias("sum_base_price"),
            F.round(
                F.sum(dec(F.col("l_extendedprice") * (1 - F.col("l_discount")))), 2
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.round(
                F.sum(dec(F.col("l_quantity"))).cast("double") / F.count("*"), 4
            ).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
    )


def _q_salted_source_counts(spark, sf_dir):
    """Skew-safe two-stage aggregation: salted partial counts then final
    roll-up — result must equal a plain GROUP BY (the oracle)."""
    seqs = _docs_tokens(spark, sf_dir)
    salted = seqs.withColumn("salt", F.pmod(F.xxhash64("doc_id"), F.lit(16)))
    partial = salted.groupBy("source", "salt").agg(
        F.count("*").alias("c"), F.sum("n_tok").alias("t")
    )
    # explicit long cast: the oracle CASTs to BIGINT too — DuckDB's HUGEINT
    # sum otherwise materializes as float64 and %.6g formatting diverges
    # from int64 above 6 significant digits
    return partial.groupBy("source").agg(
        F.sum("c").cast("long").alias("n_docs"),
        F.sum("t").cast("long").alias("total_tokens"),
    )


def _q_polyfamily_assign_docs(spark, sf_dir):
    """Multi-probe polyfamily pipeline (J2 + W1) over tokenized documents:
    two flank-pair probes screened, per-probe totals, argmax binning.
    Scored totals are oracle-HASH-checked: at k=2 the SP fragment DP is
    window-SQL-expressible (see _q_cascade_combined_scores), and Bloom FP
    1e-9 keeps the sp_pass set Bloom-FP-free; per-probe argmax binning is
    plain window SQL (semantics also pytest-gated in
    tests/test_targets_polyfamily.py + one-pass equivalence in
    tests/test_multiscreen_mg.py)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.multiscreen import polyfamily_onepass

    seqs = _docs_tokens(spark, sf_dir)
    probes = {
        "probeA": (
            _pattern_tokens(spark, MOI_HEAD), _pattern_tokens(spark, MOI_TAIL)
        ),
        "probeB": (
            _pattern_tokens(spark, "scan key row"),
            _pattern_tokens(spark, MOI_TAIL),
        ),
    }
    # one corpus scan for all probes x flanks (vs the reference's
    # scan-per-probe loop, /root/reference/bloomine/run.py:26-61)
    return polyfamily_onepass(seqs, probes, ScreenParams(k=2, false_positive=1e-9))


def _q_mg_token_topk(spark, sf_dir):
    """Misra–Gries heavy hitters over all tokens (mergeable frequent-items
    UDAF; never overestimates, error ≤ n/m — pytest-gated; exact companion:
    token_freq_topk_exact)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import sketch_agg_global
    from bloomine_spark.sketch.mg import MisraGries

    seqs = _docs_tokens(spark, sf_dir)
    sk = sketch_agg_global(seqs, "tokens", lambda: MisraGries(256))
    return spark.createDataFrame(
        [(int(t), int(c)) for t, c in sk.top_k(20)], ["token", "est_freq"]
    )


_JACCARD_SOURCES = ("src0", "src1", "src2", "src3")


def _q_jaccard_sources_exact(spark, sf_dir):
    """Exact pairwise word-3-gram Jaccard between four sources
    (oracle-checked; the minhash sketch query below estimates the same
    six numbers from O(num_perm) state per source)."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_JACCARD_SOURCES))
    )
    g = docs.select(
        "source", F.explode(_kgram_str_expr(3)).alias("g")
    ).distinct()
    sz = g.groupBy("source").agg(F.count("*").alias("n"))
    a, b = g.alias("a"), g.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("ni"))
    )
    return (
        inter.join(
            sz.select(F.col("source").alias("source_a"),
                      F.col("n").alias("na")), "source_a")
        .join(
            sz.select(F.col("source").alias("source_b"),
                      F.col("n").alias("nb")), "source_b")
        .select(
            "source_a", "source_b",
            F.round(
                F.col("ni") / (F.col("na") + F.col("nb") - F.col("ni")), 6
            ).alias("jaccard"),
        )
        .orderBy("source_a", "source_b")
    )


def _q_minhash_jaccard_sources(spark, sf_dir):
    """North-rule MinHash sketch UDAF: per-source 3-gram sets aggregate
    into 256-slot mergeable signatures (elementwise-min tree merge —
    bit-identical under any partition grouping), then all source pairs
    compare in O(num_perm) instead of a shingle self-join (no oracle —
    approximate; bound vs the exact companion gated in
    tests/test_minhash_sketch.py; oracle-HASH twin with portable hashing:
    minhash_relational_jaccard)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import STATE_COL, sketch_agg
    from bloomine_spark.sketch.minhash import MinHashSketch

    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin(list(_JACCARD_SOURCES))
    )
    # array column into the Arrow fold (no per-gram explode) — same
    # xxhash64 values, min-per-permutation is order-insensitive
    grams = docs.select(
        "source",
        F.transform(_kgram_str_expr(3), lambda g: F.xxhash64(g)).alias("gh"),
    )
    agg = sketch_agg(grams, ["source"], "gh",
                     lambda: MinHashSketch.empty(256))
    sketches = {
        r["source"]: MinHashSketch.from_bytes(bytes(r[STATE_COL]))
        for r in agg.collect()
    }
    names = sorted(sketches)
    rows = [
        (sa, sb, round(sketches[sa].jaccard(sketches[sb]), 6))
        for i, sa in enumerate(names)
        for sb in names[i + 1:]
    ]
    return spark.createDataFrame(
        rows, "source_a string, source_b string, est_jaccard double"
    )


def _q_distinct_tokens_setops_exact(spark, sf_dir):
    """U1–U4 exact set algebra over per-source distinct token sets:
    |A|, |B|, |A∪B|, |A∩B|, |A\\B| for sources src0/src1 (oracle-checked;
    the theta sketch query below is its approximate, mergeable analog)."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # one scan + one (w)-grouped shuffle computes all five set sizes —
    # the naive form (5 count() actions over unions/intersects/subtracts)
    # rescans the corpus 5x and shuffles wide rows each time
    membership = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select(
            F.explode(F.split(F.col("text"), " ")).alias("w"),
            (F.col("source") == "src0").cast("int").alias("is_a"),
            (F.col("source") == "src1").cast("int").alias("is_b"),
        )
        .groupBy("w")
        .agg(
            F.max("is_a").alias("in_a"),
            F.max("is_b").alias("in_b"),
        )
    )
    return membership.agg(
        F.sum("in_a").cast("long").alias("n_a"),
        F.sum("in_b").cast("long").alias("n_b"),
        F.count("*").cast("long").alias("n_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_intersect"),
        F.sum(F.col("in_a") * (1 - F.col("in_b"))).cast("long")
        .alias("n_a_not_b"),
    ).select("n_a", "n_b", "n_union", "n_intersect", "n_a_not_b")


def _q_theta_tokens_setops(spark, sf_dir):
    """North-rule theta sketch: the SAME set algebra estimated from two
    mergeable KMV sketches — union/intersection/difference compose on the
    sketches, O(k) state per group at any data volume (no oracle —
    approximate; error bounds + exact companion gated in tests;
    oracle-HASH twin with portable hashing: kmv_relational_setops)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.core import STATE_COL, sketch_agg
    from bloomine_spark.sketch.theta import (
        ThetaSketch,
        theta_a_not_b,
        theta_intersect,
        theta_union,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # ONE corpus scan builds both per-source sketches (grouped Arrow
    # partials), vs a scan per source
    hashes = (
        docs.filter(F.col("source").isin("src0", "src1"))
        .select("source", F.explode(F.split(F.col("text"), " ")).alias("w"))
        .select("source", F.xxhash64("w").alias("h"))
    )
    factory = lambda: ThetaSketch.empty(4096)  # noqa: E731
    states = {
        r["source"]: ThetaSketch.from_bytes(bytes(r[STATE_COL]))
        for r in sketch_agg(hashes, ["source"], "h", factory).collect()
    }
    a, b = states["src0"], states["src1"]
    rows = [
        ("n_a", a.estimate()),
        ("n_b", b.estimate()),
        ("n_union", theta_union(a, b).estimate()),
        ("n_intersect", theta_intersect(a, b).estimate()),
        ("n_a_not_b", theta_a_not_b(a, b).estimate()),
    ]
    return spark.createDataFrame(
        [(k, float(round(v, 1))) for k, v in rows], ["set_op", "est"]
    )


def _q_cms_relational_topk(spark, sf_dir):
    """Count-min sketch as relational algebra (sketch/relational.py):
    md5-derived buckets make the sketch ENGINE-PORTABLE, so the DuckDB
    oracle rebuilds the identical d=4 × w=4096 count table and reproduces
    every probe estimate bit-for-bit — INCLUDING collision inflation (the
    oracle shares the sketch, r6 rule). The d·w count table is O(1) in
    corpus size and broadcast-joins to the probe keys; the xxhash numpy
    kernel (sketch/cms.py, `cms_token_freq_topk`) remains the throughput
    path. Probe keys = exact top-20 3-grams, deterministic tiebreak."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import (
        cms_relational_counts,
        cms_relational_estimates,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select(F.explode(_kgram_str_expr(3)).alias("gram"))
    counts = cms_relational_counts(grams, "gram", d=4, w=4096)
    keys = (
        grams.groupBy("gram")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), F.asc("gram"))
        .limit(20)
        .select("gram")
    )
    return cms_relational_estimates(counts, keys, "gram", d=4, w=4096)


def _q_kmv_relational_setops(spark, sf_dir):
    """KMV/theta set algebra as relational algebra: k=256 smallest
    distinct md5-63bit hashes per source (a bounded window after a
    distinct — only (group, hash) pairs shuffle), theta = k-th smallest
    of the union, union/intersect/difference estimated below theta.
    Integer columns (theta, raw below-theta counts) pin the hash match
    exactly; the rounded float estimates carry the semantics. The xxhash
    theta kernel (`theta_tokens_setops`) remains the throughput path."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import (
        kmv_relational,
        kmv_set_estimates,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    grams = docs.select("source", F.explode(_kgram_str_expr(3)).alias("gram"))
    kmv = kmv_relational(grams, "source", "gram", k=256, presalt=8)
    return kmv_set_estimates(kmv, "source", "src0", "src1", k=256)


def _q_bloom_relational_screen(spark, sf_dir):
    """The flagship prescreen (F1/F2, src/BFiltutils.hpp) as pure
    relational algebra — the ONE sketch whose oracle could previously
    only be satisfied by making FPs impossible (fp=1e-9 on the promoted
    queries). Here the DuckDB oracle rebuilds the IDENTICAL m=16384,
    k=3 bit array from src0's distinct 3-grams and reproduces every
    per-source membership count INCLUDING the false positives.

    Plan shape (100 TB framing): the bit relation is ≤ m rows and
    broadcasts; each DISTINCT probe gram is evaluated once, membership
    then joins back to the (source, gram) pairs; per-source counts are
    one narrow groupBy. n_false_pos = n_pass − n_true pins the realized
    collision noise; bits_set pins the built filter itself."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import (
        bloom_relational_bits,
        bloom_relational_probe,
    )
    from bloomine_spark.sources.tables import load_table

    m, k = 16384, 3
    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("source", F.explode(_kgram_str_expr(3)).alias("gram"))
    target = grams.filter(F.col("source") == "src0").select("gram").distinct()
    bits = bloom_relational_bits(target, "gram", m=m, k=k)
    n_bits = bits.agg(F.count("*").cast("long").alias("bits_set"))

    probe_pairs = (
        grams.filter(F.col("source") != "src0")
        .select("source", "gram")
        .distinct()
    )
    member = bloom_relational_probe(
        bits, probe_pairs.select("gram").distinct(), "gram", m=m, k=k
    )
    truth = target.withColumn("_true", F.lit(1))
    tagged = (
        # membership relation is bounded by distinct probe grams; keep it
        # on the broadcast side explicitly (the pinned plan shape) now
        # that static auto-broadcast is off session-wide
        probe_pairs.join(F.broadcast(member), "gram")
        .join(F.broadcast(truth), "gram", "left")
        .select(
            "source",
            F.col("might_contain").cast("int").alias("_pass"),
            F.coalesce("_true", F.lit(0)).alias("_true"),
        )
    )
    return (
        tagged.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum("_pass").cast("long").alias("n_pass"),
            F.sum("_true").cast("long").alias("n_true"),
            (F.sum("_pass") - F.sum("_true")).cast("long").alias("n_false_pos"),
        )
        .crossJoin(F.broadcast(n_bits))
    )


def _q_sample_quantiles_relational(spark, sf_dir):
    """Quantile-sketch twin the oracle can hash-check: per-source
    bottom-k=256-by-md5(doc_id) row sample (mergeable, bounded state),
    quantiles by explicit rank arithmetic (value at 1 + floor((n-1)q)
    under (value, hash) order — no interpolation). Row-aligned with
    `ntok_quantiles_per_source_exact` and the KLL/t-digest kernels; the
    O(1/sqrt(k)) rank-error bound is pytest-gated against the exact
    companion."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import sample_quantiles_relational

    seqs = _docs_tokens(spark, sf_dir)
    return sample_quantiles_relational(
        seqs, "source", "n_tok", "doc_id", k=256, presalt=8
    )


def _q_pack_context_windows(spark, sf_dir):
    """LLM-pretraining sequence packing: documents laid end-to-end per
    source (numeric doc_id order — identical in both engines), token
    stream cut every 512 tokens. One sort-window cumsum per source, a
    map-side explode into spanned chunks, one narrow (source, chunk_id)
    aggregation. Every chunk's n_tokens is exactly 512 except each
    source's final partial chunk — conservation + fullness are
    pytest-gated; the oracle hash-checks every chunk row."""
    _ship_pkg(spark)
    from bloomine_spark.operators.packing import pack_context_windows
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    return pack_context_windows(
        docs, 512, group_col="source", order_col="doc_id", ntok_col="n_tok"
    )


def _q_pack_sharded_chunks(spark, sf_dir):
    """Sharded packing — the few-groups scale path: each source is split
    into 8 independent token streams by md5(doc_id) bucket and each
    shard packs on its own, so window parallelism is sources × shards
    (vs sources) at the cost of ≤1 partial chunk per shard. Fully
    deterministic; every (source, shard, chunk) row hash-checks."""
    _ship_pkg(spark)
    from bloomine_spark.operators.packing import pack_context_windows
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )
    return pack_context_windows(
        docs, 512, group_col="source", order_col="doc_id",
        ntok_col="n_tok", shards=8,
    )


def _q_hash_split_assign(spark, sf_dir):
    """Deterministic 98/1/1 corpus split (bucket = md5(doc_id) mod 100) —
    the reproducible train/val/test primitive; a doc's split is a pure
    function of its id, so assignments survive corpus growth and engine
    swaps. Aggregated per (source, split) for the oracle hash."""
    _ship_pkg(spark)
    from bloomine_spark.operators.packing import hash_split
    from bloomine_spark.sources.tables import load_table

    docs = hash_split(load_table(spark, sf_dir, "documents"), "doc_id")
    return docs.groupBy("source", "split").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("sum_chars"),
    )


def _q_vocab_coverage_curve(spark, sf_dir):
    """Vocabulary coverage curve: fraction of token occurrences covered
    by the top-k token types (k = 100 / 1000 / 10000) — the tokenizer
    sizing primitive. One corpus-scale count agg; ranking, ordered
    cumsum and the k fan-out all run on the post-agg vocab relation.
    Ties break by token string so every row hash-checks."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import vocab_coverage
    from bloomine_spark.sources.tables import load_table

    return vocab_coverage(load_table(spark, sf_dir, "documents"))


def _q_stratified_sample_docs(spark, sf_dir):
    """Deterministic stratified sample: exactly 5 docs per source by
    md5(doc_id) rank — the eval-subset selection primitive. Pure
    function of keys: stable across engines, partitionings and reruns."""
    _ship_pkg(spark)
    from pyspark.sql import functions as F

    from bloomine_spark.operators.sampling import stratified_sample
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return stratified_sample(docs, 5).select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        "sample_rank",
    )


def _q_dsir_importance_per_source(spark, sf_dir):
    """DSIR targeted-selection audit (Xie 2023): hashed-bigram importance
    weights toward the lang='en' subset; per source mean log-weight,
    positive-score docs, and exact top-25% selection counts (rank by
    round(log_iw,6) with doc_id tie-break — engine-portable). Bucket
    models are 256-bucket md5 hashes; the bucket-diff table broadcasts."""
    _ship_pkg(spark)
    from pyspark.sql import functions as F

    from bloomine_spark.operators.dsir import dsir_report_per_source
    from bloomine_spark.sources.tables import load_table

    return dsir_report_per_source(
        load_table(spark, sf_dir, "documents"), F.col("lang") == "en"
    )


DUP_SPAN_K = 8


def _q_dup_span_coverage_per_source(spark, sf_dir):
    """Cross-document duplicated-span audit (Lee et al. 2022 ExactSubstr
    at window granularity, k=8): per source, token volume, tokens inside
    ≥2×-occurring k-windows (overlaps island-merged so each token counts
    once), the duplicated fraction, and ≥half-duplicated doc counts (the
    integer test 2·dup ≥ n_tok). Gram text never shuffles — windows are
    md5 digests before the count shuffle and the join back."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import dup_span_coverage_per_source
    from bloomine_spark.sources.tables import load_table

    return dup_span_coverage_per_source(
        load_table(spark, sf_dir, "documents"), k=DUP_SPAN_K
    )


def _q_unigram_ppl_per_source(spark, sf_dir):
    """CCNet-style perplexity triage with the LM reduced to the corpus
    unigram model: per source, mean doc NLL + its exp. Token-count agg
    (vocab-sized) + scalar total broadcast + one token→freq join + two
    narrowing aggregates; transcendentals stay in codegen. Doubles
    compare under the gate's 1e-6 canonical rounding — association-order
    float noise is ~1e-11 here."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import unigram_logprob_per_source
    from bloomine_spark.sources.tables import load_table

    return unigram_logprob_per_source(load_table(spark, sf_dir, "documents"))


BM25_QUERY = ["fast", "table", "scan"]


def _q_bm25_topk_per_source(spark, sf_dir):
    """Okapi BM25 ranked retrieval (Lucene idf variant): top-5 hits per
    source for the query {fast, table, scan}. The token explode filters
    to the query terms before any aggregate (the corpus-scale relation
    is |terms|-bounded per doc); df/N/avgdl broadcast; ranking by the
    ROUNDED score with doc_id tie-break is engine-portable."""
    _ship_pkg(spark)
    from bloomine_spark.operators.retrieval import bm25_topk_per_source
    from bloomine_spark.sources.tables import load_table

    out = bm25_topk_per_source(
        load_table(spark, sf_dir, "documents"), BM25_QUERY, k=5
    )
    from pyspark.sql import functions as F

    return out.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        "score", "rank",
    )


def _q_ql_dirichlet_topk_per_source(spark, sf_dir):
    """Dirichlet-smoothed query likelihood (Zhai & Lafferty 2001): top-5
    hits per source for the same query as BM25 plus one absent term
    (exercises the zero-ctf drop). The exact decomposition keeps the
    corpus-scale relation |terms|-bounded (matched sum) + one narrow
    (doc, dl) map; every doc is scored, unmatched docs rank purely by
    the −|q|·ln(dl+μ) length term."""
    _ship_pkg(spark)
    from bloomine_spark.operators.retrieval import ql_dirichlet_topk_per_source
    from bloomine_spark.sources.tables import load_table

    out = ql_dirichlet_topk_per_source(
        load_table(spark, sf_dir, "documents"),
        BM25_QUERY + ["zzqxnosuchterm"], k=5, mu=300.0,
    )
    from pyspark.sql import functions as F

    return out.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        "score", "rank",
    )


def _q_zipf_fit_per_source(spark, sf_dir):
    """Zipf power-law fit per source (OLS of ln freq vs ln rank over the
    min_count-pruned head, rank ties broken by token): the hapax prune
    runs BEFORE the per-source ranking window, so the window input is
    the surviving head, never web-scale vocab. Closed-form OLS; float
    noise ~1e-12 under the 1e-6 canon."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import zipf_fit_per_source
    from bloomine_spark.sources.tables import load_table

    return zipf_fit_per_source(load_table(spark, sf_dir, "documents"))


def _q_wordpiece_fertility(spark, sf_dir):
    """WordPiece (Wu 2016, the BERT tokenizer rule): corpus-trained
    substring vocab (len ≤ 4, count ≥ 2, single chars force-kept), word
    TYPES segmented by greedy longest-match-first, occurrence-weighted
    fertility per source. Integer-deterministic end to end — no float
    tie-break anywhere; the oracle unrolls the greedy loop (fixture max
    word length 8 < 12 unrolled rounds)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.bpe import wordpiece_fertility_per_source
    from bloomine_spark.sources.tables import load_table

    return wordpiece_fertility_per_source(
        load_table(spark, sf_dir, "documents"), max_len=4, min_count=2
    ).orderBy("source")


def _q_unigram_segment_stats(spark, sf_dir):
    """Unigram-LM Viterbi segmentation (Kudo 2018, the SentencePiece
    inference rule): corpus substring vocab with unigram log-probs,
    per-word-type best-path DP, occurrence-weighted fertility + mean
    path score per source. Path comparison = (round(score,6) DESC,
    n_pieces ASC, pieces DESC) — a full tie is an identical path, so the
    carried scores are identical rationals on both engines."""
    _ship_pkg(spark)
    from bloomine_spark.operators.bpe import unigram_segment_stats_per_source
    from bloomine_spark.sources.tables import load_table

    return unigram_segment_stats_per_source(
        load_table(spark, sf_dir, "documents"), max_len=4, min_count=2
    ).orderBy("source")


def _q_line_dedup_docs(spark, sf_dir):
    """Corpus-level exact line dedup (RefinedWeb/FineWeb): shared
    footer/cookie lines PLANTED on doc_id moduli repeat across docs —
    only the globally-first occurrence (min (doc_id, line_no))
    survives. Line text never rides the dedup shuffle: the occurrence
    window runs over (md5, doc_id, pos) and joins back by position."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import line_dedup
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    planted = docs.withColumn(
        "text",
        F.concat(
            F.col("text"),
            F.when(d % 3 == 0, F.lit("\nshared footer alpha")).otherwise(
                F.lit("")
            ),
            F.when(d % 5 == 0, F.lit("\ncookie notice beta")).otherwise(
                F.lit("")
            ),
        ),
    )
    return line_dedup(planted)


def _q_boilerplate_line_df_docs(spark, sf_dir):
    """Boilerplate-line removal by per-host document frequency (the
    RefinedWeb per-domain rule, line_dedup's statistical cousin): docs
    live on hosts h(doc_id%10); every doc carries its host's footer
    (df = 100% of the host → dropped at max_doc_frac=1/3), doc_id%4
    docs carry a promo line (~25% of a host → kept), and each doc a
    unique note line (kept). ALL occurrences of a boilerplate line are
    removed — template text has no canonical survivor."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import line_df_boilerplate
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(F.lit("h"), (d % 10).cast("string")).alias("host"),
        F.concat(
            F.col("text"),
            F.lit("\nhost footer "), (d % 10).cast("string"),
            F.when(d % 4 == 0, F.lit("\npromo line visit us")).otherwise(
                F.lit("")
            ),
            F.lit("\nnote "), d.cast("string"),
        ).alias("text"),
    )
    return line_df_boilerplate(
        planted, group_col="host", max_doc_frac=1 / 3
    )


def _q_k_anonymity_audit_customers(spark, sf_dir):
    """k-anonymity + l-diversity audit (Sweeney 2002, Machanavajjhala
    2007) — the structured-side release gate beside scrub_pii: one row
    per (nation, segment) equivalence class with class_size,
    k_violation (< 10 members re-identifiable), distinct account-
    balance bands as the sensitive attribute, and l_violation (< 3
    bands: the class leaks balances even when k holds)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.privacy import k_anonymity_audit
    from bloomine_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nation"),
        F.col("c_mktsegment").alias("segment"),
        F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_band"),
    )
    return k_anonymity_audit(
        cust, ["nation", "segment"], k=10, sensitive_col="bal_band", l=3
    )


def _q_generalize_k_customers(spark, sf_dir):
    """Local-recoding generalization to k=8 over customers: each row
    publishes at the finest ladder level whose class (computed over
    the rows still unpublished at that level) reaches k — balance band
    4000s → 8000s → dropped → segment dropped; rows failing every
    level are suppressed (gen_level -1, all quasi NULL). The oracle
    replays the ladder as chained remainder CTEs."""
    _ship_pkg(spark)
    from bloomine_spark.operators.privacy import generalize_to_k
    from bloomine_spark.sources.tables import load_table

    cust = load_table(spark, sf_dir, "customer")
    nation = F.col("c_nationkey").cast("string")
    seg = F.col("c_mktsegment")
    levels = [
        {"nation": nation, "segment": seg,
         "bal_band": F.floor(F.col("c_acctbal") / 4000).cast("string")},
        {"nation": nation, "segment": seg,
         "bal_band": F.floor(F.col("c_acctbal") / 8000).cast("string")},
        {"nation": nation, "segment": seg,
         "bal_band": F.lit(None).cast("string")},
        {"nation": nation, "segment": F.lit(None).cast("string"),
         "bal_band": F.lit(None).cast("string")},
    ]
    return generalize_to_k(cust, "c_custkey", levels, k=8)


_JW_BASES = [
    "margaret johnson", "jonathan smithers", "alexandra petrov",
    "christopher wainwright", "elizabeth harmon", "maximilian brandt",
    "sebastian kruger", "anastasia volkov",
]

# variant ladder shared verbatim by the Spark query (F.expr) and the
# DuckDB oracle — every function used means the same thing in both
# engines (regexp_replace would NOT: Spark replaces all matches,
# DuckDB only the first)
_JW_NAME_CASE = """CASE nid % 5
      WHEN 0 THEN b
      WHEN 1 THEN substring(b, 1, length(b) - 1)
      WHEN 2 THEN concat(substring(b, 1, 2), substring(b, 4, 1),
                         substring(b, 3, 1), substring(b, 5, 100))
      WHEN 3 THEN replace(b, 'an', 'on')
      ELSE concat(b, 'x')
    END"""


def _q_jw_pairs_names(spark, sf_dir):
    """Blocked Jaro–Winkler linkage (Winkler 1990) over a planted
    name relation: 200 ids carry one of 8 base names under a 5-step
    typo ladder (truncate / transpose / substitute / append); pairs
    block on the first letter and verify at jw >= 0.88. The Python
    kernel was fuzz-locked against DuckDB's jaro_winkler_similarity
    (3000 pairs, 0 diffs), so the oracle calls the builtin verbatim —
    two independent implementations must agree pair-for-pair AND
    similarity-for-similarity for the hash to land."""
    _ship_pkg(spark)
    from bloomine_spark.operators.linkage import blocked_jw_pairs
    from bloomine_spark.sources.tables import load_table

    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 200).alias("nid"))
        .distinct()
    )
    base = F.element_at(
        F.array([F.lit(x) for x in _JW_BASES]),
        (F.col("nid") % 8).cast("int") + 1,
    )
    rel = ids.select("nid", base.alias("b")).select(
        "nid", F.expr(_JW_NAME_CASE).alias("name")
    )
    return blocked_jw_pairs(
        rel, id_col="nid", text_col="name",
        block=F.substring("name", 1, 1), min_sim=0.88,
    )


def _q_phonetic_jw_pairs_names(spark, sf_dir):
    """Phonetic blocking + Jaro-Winkler verify — the classic linkage
    recipe (block on Soundex so spelling variants land together, then
    score with JW): same planted 8-base/5-variant name relation as
    jw_pairs_names, blocked on the NARA Soundex of the full name. The
    oracle rebuilds the soundex chain from the operator's OWN letter
    map constants (translate → sentinel drop → per-digit run collapse,
    no backrefs — DuckDB's RE2 has none) and calls
    jaro_winkler_similarity, so blocking AND scoring must both agree."""
    _ship_pkg(spark)
    from bloomine_spark.operators.linkage import (
        blocked_jw_pairs,
        soundex_key,
    )
    from bloomine_spark.sources.tables import load_table

    ids = (
        load_table(spark, sf_dir, "documents")
        .select((F.col("doc_id") % 200).alias("nid"))
        .distinct()
    )
    base = F.element_at(
        F.array([F.lit(x) for x in _JW_BASES]),
        (F.col("nid") % 8).cast("int") + 1,
    )
    rel = ids.select("nid", base.alias("b")).select(
        "nid", F.expr(_JW_NAME_CASE).alias("name")
    )
    return blocked_jw_pairs(
        rel, id_col="nid", text_col="name",
        block=soundex_key("name"), min_sim=0.88,
    )


def _q_tfidf_cosine_topk_per_source(spark, sf_dir):
    """SMART lnc.ltc TF-IDF cosine retrieval (Salton & Buckley 1988) —
    the vector-space ranker completing the lexical trio beside BM25 and
    Dirichlet QL, same query {fast, table, scan}: doc vectors log-tf
    cosine-normalized over their FULL vocabulary (the one corpus-wide
    (doc,term) aggregate cosine genuinely needs, collapsed to a per-doc
    scalar), query vector log-tf·ln(N/df) normalized once."""
    _ship_pkg(spark)
    from bloomine_spark.operators.retrieval import (
        tfidf_cosine_topk_per_source,
    )
    from bloomine_spark.sources.tables import load_table

    out = tfidf_cosine_topk_per_source(
        load_table(spark, sf_dir, "documents"), BM25_QUERY, k=5
    )
    return out.select(
        "source", F.col("doc_id").cast("long").alias("doc_id"),
        "score", "rank",
    )


def _q_incremental_screen_docs(spark, sf_dir):
    """Incremental dedup — the continuously-updated-corpus posture: a
    curated corpus (doc_id%3 != 0, formula texts with planted repeat
    groups) is indexed ONCE (exact fingerprints + MinHash bands +
    signatures persisted), then a new batch (doc_id%3 == 0) screens
    against the index without re-reading corpus text. Exact-only mode
    here so the whole screen is oracle-replayable (the near path is
    estimator-based and pytest-gated); matched_id is the corpus
    fingerprint group's canonical min id."""
    _ship_pkg(spark)
    import hashlib
    import tempfile

    from bloomine_spark.operators.dedup import (
        build_dedup_index,
        screen_against_index,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    corpus = docs.filter(d % 3 != 0).select(
        "doc_id",
        F.concat(F.lit("content "), (d % 50).cast("string")).alias("text"),
    )
    batch = docs.filter(d % 3 == 0).select(
        "doc_id",
        F.concat(F.lit("content "), (d % 75).cast("string")).alias("text"),
    )
    idx = (
        tempfile.gettempdir()
        + "/bloomine_dedup_idx_"
        + hashlib.md5(sf_dir.encode()).hexdigest()[:10]
    )
    build_dedup_index(corpus, idx)
    return screen_against_index(batch, idx, threshold=None)


_SCRIPT_SNIPPETS = {
    1: "привет мир студент школа",        # cyrillic
    2: "你好世界学习模型数据",             # cjk
    3: "γειά σου κόσμος μάθηση",          # greek
    4: "مرحبا بالعالم تعلم",               # arabic
}


def _q_script_mix_docs(spark, sf_dir):
    """Unicode-script composition (the multilingual triage before any
    statistical lang-id): docs with doc_id%5 in 1..4 get a planted
    non-Latin snippet — %5==2 REPLACES the text entirely (dominant
    flips to cjk), the others append (latin stays dominant but the
    fraction drops). Counting is pure codegen length-difference per
    script class; the oracle interpolates the SAME range constants
    and snippet literals."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import script_mix
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.when(d % 5 == 2, F.lit(_SCRIPT_SNIPPETS[2]))
        .when(d % 5 == 1, F.concat(F.col("text"), F.lit(" "),
                                   F.lit(_SCRIPT_SNIPPETS[1])))
        .when(d % 5 == 3, F.concat(F.col("text"), F.lit(" "),
                                   F.lit(_SCRIPT_SNIPPETS[3])))
        .when(d % 5 == 4, F.concat(F.col("text"), F.lit(" "),
                                   F.lit(_SCRIPT_SNIPPETS[4])))
        .otherwise(F.col("text"))
        .alias("text"),
    )
    return script_mix(planted)


def _q_snapshot_diff_docs(spark, sf_dir):
    """Corpus snapshot churn (the dataset-card audit between releases):
    old = docs with doc_id%7 != 6 and formula texts; new drops %7==5
    (removed), adds the %7==6 ids (added), rewrites %3==0 texts
    (changed), keeps the rest byte-identical (unchanged). Text never
    rides the shuffle — both sides collapse to (id, md5) first."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import snapshot_diff
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    old = docs.filter(d % 7 != 6).select(
        "doc_id",
        F.concat(F.lit("v1 body "), d.cast("string")).alias("text"),
    )
    new = docs.filter(d % 7 != 5).select(
        "doc_id",
        F.when(
            d % 3 == 0,
            F.concat(F.lit("v2 body "), d.cast("string")),
        ).otherwise(
            F.concat(F.lit("v1 body "), d.cast("string"))
        ).alias("text"),
    )
    return snapshot_diff(old, new)


def _q_source_overlap_docs(spark, sf_dir):
    """Cross-source contamination matrix (the provenance audit before
    mixing corpora): formula texts make doc content repeat across
    sources on controlled moduli, and the matrix counts distinct
    fingerprints shared per ordered source pair (diagonal = each
    source's distinct count). The pair join runs on the COLLAPSED
    (source, fp) relation, never |docs|²."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import source_overlap_matrix
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    d = F.col("doc_id")
    planted = docs.select(
        "doc_id",
        F.concat(F.lit("src"), (d % 4).cast("string")).alias("source"),
        # content keyed on d%30: sources share fingerprints exactly when
        # residues overlap across the %4 striping
        F.concat(F.lit("shared body "), (d % 30).cast("string"))
        .alias("text"),
    )
    return source_overlap_matrix(planted)


def _q_chunk_documents(spark, sf_dir):
    """Per-document overlapping token-window chunking (RAG/embedding
    prep — the per-doc sibling of the cross-doc training packer):
    32-token windows with 8-token overlap; the chunk set is closed-form
    in n_tokens (tail chunks only when they extend past the previous
    end), so the whole operator is one zero-exchange codegen explode
    the oracle replays arithmetically."""
    _ship_pkg(spark)
    from bloomine_spark.operators.packing import chunk_token_windows
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_token_windows(docs, window=32, overlap=8)


def _q_profile_lineitem(spark, sf_dir):
    """Dataset profiling — the 'look before you train' pass a curation
    run records beside its outputs: one row per (column, metric) with
    non-null count, null fraction, exact distinct count, and numeric
    min/max/mean. ALL statistics ride ONE aggregate over one scan
    (then unpivot via stack); nothing is per-column-scanned."""
    _ship_pkg(spark)
    from bloomine_spark.operators.profiling import profile_table
    from bloomine_spark.sources.tables import load_table

    li = load_table(spark, sf_dir, "lineitem")
    return profile_table(
        li, ["l_orderkey", "l_quantity", "l_extendedprice", "l_returnflag"]
    )


def _q_binned_price_orders(spark, sf_dir):
    """Equal-frequency discretization of o_totalprice into 4 bins:
    cut points are EXACT rank statistics (values at ranks
    ceil(i·n/4), computed via range-partitioned sort + zipWithIndex —
    never a single-partition global window), assignment is a codegen
    CASE chain over the three edge literals. The oracle recomputes
    the same ranks with a window and the same CASE."""
    _ship_pkg(spark)
    from bloomine_spark.operators.profiling import (
        assign_bins,
        equal_freq_bins,
    )
    from bloomine_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    edges = equal_freq_bins(orders, "o_totalprice", 4)
    return assign_bins(
        orders.select("o_orderkey", "o_totalprice"), "o_totalprice", edges
    )


def _q_ccnet_normalize(spark, sf_dir):
    """CCNet pre-LM text normalization (Wenzek 2020): lowercase, digits
    →0, control chars handled, whitespace collapsed. Mess is PLANTED on
    doc_id moduli (the corpus is already clean): %7 → mixed case +
    digits, %11 → tabs/newlines + space runs, %13 → a control char."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import ccnet_normalize
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = F.col("text")
    p = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(p, F.lit(" The Price IS 42,99 Today")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(p, F.lit("\tcol1\tcol2\nrow   with    runs  ")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(p, F.lit("\x07bell here")),
    ).otherwise(p)
    return ccnet_normalize(docs.withColumn("text", p)).orderBy("doc_id")


def _q_sample_by_hash(spark, sf_dir):
    """Deterministic md5-threshold Bernoulli sample at rate 0.25: the
    kept set is a pure function of (doc_id, salt) — stable under corpus
    growth and identical across engines (md5 hex-1-8 parity parse)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import sample_by_hash
    from bloomine_spark.sources.tables import load_table

    return sample_by_hash(
        load_table(spark, sf_dir, "documents").select(
            "doc_id", "source", "n_chars"
        ),
        0.25, salt="bench",
    ).orderBy("doc_id")


def _q_priority_sample_per_source(spark, sf_dir):
    """Priority sampling (Duffield–Lund–Thorup 2007): top-10 weighted
    sample per source with weight = n_chars, plus the τ-calibrated
    subset-sum estimator term max(weight, τ). Priorities come from the
    md5 hex-1-8 uniform, so sample, ranks, τ and estimator are all a
    pure function of (doc_id, salt) and hash-match the SQL oracle. The
    rank filter compiles to WindowGroupLimit — per-map partial top-k
    before the exchange (pinned in tests/test_priority_sample.py)."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.priority import priority_sample
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    return priority_sample(
        docs, 10, "n_chars", group_col="source", salt="ps"
    ).withColumn("doc_id", F.col("doc_id").cast("string"))


def _q_nb_langid_confusion(spark, sf_dir):
    """Trained hashed-bigram Naive Bayes classifier (fastText/CLD-style
    language/domain ID): fit on the corpus with label = source, classify
    the same docs, emit the (actual, predicted) confusion counts. The
    synthetic sources share a vocabulary so accuracy is near-chance —
    the gate is DETERMINISM of the full fit+classify pipeline (hashed
    features, smoothed likelihoods, rounded-rank argmax), not accuracy;
    separable-language accuracy is pytest-gated."""
    _ship_pkg(spark)
    from bloomine_spark.operators.classify import nb_classify, nb_train
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "text"
    )
    model = nb_train(
        docs.select(F.col("source").alias("label"), "text"),
        n_buckets=256,
    )
    pred = nb_classify(docs, model, n_buckets=256).select(
        "doc_id", F.col("label").alias("predicted")
    )
    return (
        docs.select("doc_id", "source")
        .join(pred, "doc_id")
        .groupBy("source", "predicted")
        .agg(F.count("*").cast("long").alias("n_docs"))
        .orderBy("source", "predicted")
    )


def _q_ngram_novelty_per_source(spark, sf_dir):
    """RAVEN n-gram novelty curves (McCoy 2021): per (source, n≤8), the
    fraction of gram occurrences that are corpus-first, occurrence order
    = (doc_id, char start). One window pass (7 leads over word digests)
    builds all gram sizes; the corpus-wide first-occurrence reduction is
    one digest-keyed aggregate."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import ngram_novelty_per_source
    from bloomine_spark.sources.tables import load_table

    return ngram_novelty_per_source(
        load_table(spark, sf_dir, "documents"), max_n=8
    ).orderBy("source", "n")


def _q_heaps_fit_per_source(spark, sf_dir):
    """Heaps' law vocabulary-growth fit per source (V = K·n^β): docs
    ordered by doc_id, cumulative tokens vs cumulative first-occurrence
    types, OLS of ln V on ln n. The vocab-scale relation reduces to
    (source,type)→min(doc_id)→per-doc new-type counts BEFORE the
    per-source window, so the window input is |docs|."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import heaps_fit_per_source
    from bloomine_spark.sources.tables import load_table

    return heaps_fit_per_source(load_table(spark, sf_dir, "documents"))


def _q_source_jsd_pairs(spark, sf_dir):
    """Pairwise source Jensen–Shannon divergence over unigram
    distributions — shared types via one token self-join, the
    disjoint-support remainder carried as two running probability
    masses (0.5·ln2·(2−ma−mb)) instead of an outer join."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import source_jsd_pairs
    from bloomine_spark.sources.tables import load_table

    return source_jsd_pairs(load_table(spark, sf_dir, "documents"))


def _q_bigram_ppl_per_source(spark, sf_dir):
    """Bigram-LM perplexity triage (add-0.5 smoothing, context counts
    from the bigram relation, V broadcast): per source mean doc NLL +
    ppl over docs with ≥2 tokens. One bigram agg + derived context agg +
    one LM join; ln in codegen; float noise ~1e-11 under the 1e-6 canon."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import bigram_logprob_per_source
    from bloomine_spark.sources.tables import load_table

    return bigram_logprob_per_source(load_table(spark, sf_dir, "documents"))


def _q_ccnet_ppl_buckets(spark, sf_dir):
    """CCNet head/middle/tail split (Wenzek 2020): per source, documents
    ranked by bigram-LM perplexity and cut into equal-count terciles
    with integer arithmetic over the portable (round(nll,6), doc_id)
    rank — no float boundary can move a doc across engines. One window
    over (source, doc_id, nll) — text never rides the window shuffle."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import ccnet_ppl_buckets
    from bloomine_spark.sources.tables import load_table

    return ccnet_ppl_buckets(load_table(spark, sf_dir, "documents"))


def _q_kn_ppl_per_source(spark, sf_dir):
    """Interpolated Kneser–Ney bigram perplexity (Chen & Goodman 1998,
    the KenLM/CCNet filter smoothing): discounted observed mass plus
    continuation-probability backoff N1+(·,w2)/N1+(·,·). All marginals
    derive from the one distinct-bigram relation; ln in codegen."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import kneser_ney_ppl_per_source
    from bloomine_spark.sources.tables import load_table

    return kneser_ney_ppl_per_source(load_table(spark, sf_dir, "documents"))


def _q_gopher_quality_per_source(spark, sf_dir):
    """Gopher rule-pack filtering audit (Rae 2021): per source, how many
    docs each rule rejects and how many survive. Every ratio rule is an
    integer cross-multiplication (no float thresholds) — a pure-codegen
    map over the scan + one partial-agg shuffle of ≤ |sources| rows.
    min_stopwords=1 here (the synthetic corpus vocabulary contains only
    'the' from the Gopher set; the published default of 2 would reject
    every doc and make n_kept degenerate — operator defaults unchanged)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import gopher_quality_per_source
    from bloomine_spark.sources.tables import load_table

    return gopher_quality_per_source(
        load_table(spark, sf_dir, "documents"), min_stopwords=1
    )


BPE_N_MERGES = 10


def _q_bpe_learn_merges(spark, sf_dir):
    """Distributed BPE tokenizer training (Sennrich 2016): 10 merge
    rounds over the word-type frequency relation; returns the merge
    table (merge_rank, lhs, rhs, pair_count). Corpus collapses once to
    word types; each round is one bounded pair-count aggregate + a
    distributed top-1 + a map-side greedy fold. Oracle replays the
    identical contract as an unrolled CTE chain (greedy merge =
    every-other-candidate within gaps-and-islands runs)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.bpe import bpe_merge_table
    from bloomine_spark.sources.tables import load_table

    return bpe_merge_table(
        load_table(spark, sf_dir, "documents"), BPE_N_MERGES
    )


def _q_bpe_fertility_per_source(spark, sf_dir):
    """Apply the learned 10-merge BPE back to the corpus: per source,
    (n_words, n_subwords, fertility) — the tokenizer-quality readout.
    Word→subword-size map joins back to the exploded corpus (word-type
    keyed shuffle join; AQE broadcasts while the vocab is small)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.bpe import bpe_source_stats
    from bloomine_spark.sources.tables import load_table

    return bpe_source_stats(
        load_table(spark, sf_dir, "documents"), BPE_N_MERGES
    )


def _q_bpe_transfer_stats(spark, sf_dir):
    """Train-and-transfer: learn 10 merges on the EVEN-doc_id half of
    the corpus, encode the FULL corpus (unseen words still encode —
    characters remain symbols). Per source: words, subwords, OOV word
    occurrences, fertility. The production tokenizer shape: train once,
    apply to everything."""
    _ship_pkg(spark)
    from pyspark.sql import functions as F

    from bloomine_spark.operators.bpe import bpe_transfer_stats
    from bloomine_spark.sources.tables import load_table

    return bpe_transfer_stats(
        load_table(spark, sf_dir, "documents"),
        BPE_N_MERGES,
        train_pred=(F.col("doc_id") % 2 == 0),
    )


def _mixture_docs(spark, sf_dir):
    from bloomine_spark.sources.tables import load_table

    return load_table(spark, sf_dir, "documents").select(
        "source",
        "doc_id",
        F.size(F.split(F.col("text"), " ")).alias("n_tok"),
    )


def _q_source_mixture_plan(spark, sf_dir):
    """Temperature-weighted mixture plan (weight ∝ tokens^0.5, budget =
    3/2 of the corpus): per-source token quota, effective epochs, and
    the integer md5-bucket threshold that realizes the fractional
    epoch. The doubles hash-check because every float op is pinned —
    IEEE sqrt, ordered cumulative-sum normalization, one fixed
    expression order — over integer token counts."""
    _ship_pkg(spark)
    from bloomine_spark.operators.mixture import temperature_mixture_plan

    return temperature_mixture_plan(_mixture_docs(spark, sf_dir))


def _q_bestfit_pack_bins(spark, sf_dir):
    """Best-Fit-Decreasing packing (Ding 2024 'Fewer Truncations'):
    bin-packs whole documents into 512-token windows — zero boundary
    truncations vs concat-and-chunk. BFD is sequential, hence not
    SQL-expressible (rows-only gate); determinism + replay equality +
    the 11/9·OPT bound are pytest-gated (test_bestfit_pack). Scale
    comes from md5 segmenting: each Arrow kernel packs one ≈100k-doc
    segment, only (id, n_tok) pairs ride the one shuffle."""
    _ship_pkg(spark)
    from bloomine_spark.operators.packing import bestfit_pack

    return bestfit_pack(_mixture_docs(spark, sf_dir), 512)


def _q_unimax_alloc(spark, sf_dir):
    """UniMax source sampling (Chung 2023): closed-form waterfill of a
    half-corpus token budget with a 3-epoch cap per source. The capped
    set is decided by an all-integer cross-multiplication over the
    capacity-ascending rank, so it is engine-exact; the only floats are
    the two final divisions (water level, epochs)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.mixture import unimax_plan

    return unimax_plan(
        _mixture_docs(spark, sf_dir), max_epochs=3, budget_ratio=(1, 2)
    )


def _q_epoch_pack_chunks(spark, sf_dir):
    """End-to-end epoch assembly: temperature mixture (∝ sqrt tokens,
    3/2-corpus budget) → deterministic per-doc copy counts → map-side
    epoch explode → concat-and-chunk packing into 512-token windows in
    (epoch, doc_id) order. The whole pipeline is one tiny per-source
    aggregate + a broadcast join + one per-source sort window — the
    shape that survives 100 TB. Every chunk row hash-checks."""
    _ship_pkg(spark)
    from bloomine_spark.operators.mixture import (
        explode_epochs,
        realize_mixture,
        temperature_mixture_plan,
    )
    from bloomine_spark.operators.packing import pack_context_windows

    docs = _mixture_docs(spark, sf_dir)
    plan = temperature_mixture_plan(docs)
    copies = explode_epochs(realize_mixture(docs, plan))
    ordered = copies.withColumn(
        "ord", F.col("epoch").cast("long") * F.lit(1099511627776) + F.col("doc_id")
    )
    return pack_context_windows(
        ordered, 512, group_col="source", order_col="ord", ntok_col="n_tok"
    )


def _q_hll_relational_per_source(spark, sf_dir):
    """HyperLogLog as relational algebra: per-source registers (j, mj)
    from the portable md5-63bit hash, harmonic sum in EXACT scaled-integer
    arithmetic (decimal(38,0) / HUGEINT — no float summation order),
    linear-counting small-range branch. Integer register pins (n_nonzero,
    sum_rho, checksum) hash-match exactly; est_distinct reproduces to the
    cent in DuckDB. The xxhash numpy HLL (`hll_distinct_kgrams_per_source`)
    remains the throughput path; shared semantics, two hash families."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import (
        hll_relational_estimates,
        hll_relational_registers,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    grams = docs.select("source", F.explode(_kgram_str_expr(3)).alias("gram"))
    regs = hll_relational_registers(grams, "source", "gram", p=12)
    return hll_relational_estimates(regs, "source", p=12)


def _q_minhash_relational_jaccard(spark, sf_dir):
    """MinHash as relational algebra: 32-permutation signature per source
    (min of md5-63bit of 'perm:gram'; at most 32 rows per group shuffle),
    Jaccard(src0, src1) = matching fraction — n_match is the integer pin,
    est_jaccard is exact in binary (power-of-two denominator). The xxhash
    banded MinHash-LSH (`minhash_lsh_dups`) remains the production dedup
    path; this pins the signature/estimator semantics to an oracle."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import (
        minhash_relational,
        minhash_relational_jaccard,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").filter(
        F.col("source").isin("src0", "src1")
    )
    grams = docs.select("source", F.explode(_kgram_str_expr(3)).alias("gram"))
    sigs = minhash_relational(grams, "source", "gram", n_perm=32)
    return minhash_relational_jaccard(sigs, "source", "src0", "src1", 32)


def _q_simhash_relational(spark, sf_dir):
    """64-bit SimHash per doc as pure Catalyst expressions over the
    portable md5-63bit word hash — every fingerprint hash-checked against
    DuckDB's identical computation (63 bit-count aggregates, tie→0). The
    xxhash banded near-dup pair path (`simhash_dups`) remains the
    production operator; this pins its fingerprint SEMANTICS to an
    external oracle."""
    _ship_pkg(spark)
    from bloomine_spark.sketch.relational import simhash_relational
    from bloomine_spark.sources.tables import load_table

    return simhash_relational(load_table(spark, sf_dir, "documents"))


def _q_bloom_semi_join_orders(spark, sf_dir):
    """F1-as-join: Bloom prefilter built from high-value orders cuts the
    lineitem side BEFORE the shuffle; the exact semi-join that follows
    removes Bloom FPs, so the result equals the plain semi-join exactly."""
    _ship_pkg(spark)
    from bloomine_spark.operators.bloomjoin import bloom_semi_join
    from bloomine_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    small = (
        t["orders"]
        .filter(F.col("o_totalprice") > 450000)
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return bloom_semi_join(t["lineitem"], small, "l_orderkey").select(
        "l_orderkey", "l_linenumber"
    )


def _q_curate_training_docs(spark, sf_dir):
    """End-to-end training-data curation composition: quality filter →
    exact dedup (keep canonical min-doc_id copy) → deterministic per-source
    sample (bottom-k by md5(doc_id), a mergeable uniform sample — the
    hash-order trick makes 'random' sampling oracle-checkable and
    shuffle-stable at any scale). Every stage is a narrow/grouped op: no
    driver collects, no cross joins."""
    _ship_pkg(spark)
    from pyspark.sql import Window

    from bloomine_spark.operators.textops import quality_scores
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").withColumn(
        "doc_id_s", F.col("doc_id").cast("string")
    )
    q = quality_scores(load_table(spark, sf_dir, "documents")).select(
        F.col("doc_id").alias("q_doc_id"), "quality"
    )
    base = docs.join(q, docs["doc_id_s"] == q["q_doc_id"]).filter(
        F.col("quality") >= 0.5
    )
    canon = Window.partitionBy(F.md5("text"))
    deduped = (
        base.withColumn("canonical", F.min("doc_id").over(canon))
        .filter(F.col("doc_id") == F.col("canonical"))
    )
    w = Window.partitionBy("source").orderBy(F.md5("doc_id_s"), F.asc("doc_id"))
    return (
        deduped.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 10)
        .select(F.col("doc_id_s").alias("doc_id"), "source", "quality")
    )


def _q_regional_revenue(spark, sf_dir):
    """TPC-H Q5-style multi-join: revenue per nation, small dims broadcast,
    Catalyst free to reorder."""
    from bloomine_spark.sources.tables import load_tables

    t = load_tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["supplier"], F.col("l_suppkey") == F.col("s_suppkey"))
        .join(
            F.broadcast(t["nation"]),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .filter(F.col("c_nationkey") == F.col("s_nationkey"))
        .groupBy("n_name")
        .agg(
            F.round(
                F.sum(
                    (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
                        "decimal(18,6)"
                    )
                ),
                2,
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").alias("n_lineitems"),
        )
    )


# ---------------------------------------------------------------------------
# training-data pipeline queries: dedup / similarity / text analysis
# ---------------------------------------------------------------------------

def _q_exact_dup_docs(spark, sf_dir):
    """Exact dedup by content hash (hash-groupBy; narrow shuffle)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import exact_duplicates
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return exact_duplicates(docs, F.col("text")).withColumn(
        "canonical_id", F.col("canonical_id").cast("string")
    )


def _q_ngram_jaccard_pairs(spark, sf_dir):
    """Exact 3-gram Jaccard near-dup pairs via shared-shingle equi-join."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import ngram_jaccard_pairs
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    # max_doc_freq caps shingle posting lists: a shingle shared by f docs
    # contributes f² self-join rows, so one stopword 3-gram detonates the
    # shuffle at corpus scale. The oracle applies the identical cap.
    return ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5, max_doc_freq=100)


def _q_dedup_group_assign(spark, sf_dir):
    """Near-dup pair graph → connected components → canonical survivor.

    The full corpus-dedup pipeline: exact 3-gram Jaccard pairs (identical
    config to `ngram_jaccard_pairs`) resolved into groups by the
    alternating large-star/small-star algorithm, min-id survivor kept.
    One row per document: (doc_id, group_id, group_size, keep). The
    DuckDB oracle recomputes the same pair graph and takes its transitive
    closure with a recursive CTE — group_id = component minimum on both
    sides, so the comparison is hash-exact."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import dedup_groups, ngram_jaccard_pairs
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5, max_doc_freq=100)
    return (
        dedup_groups(docs, pairs)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .withColumn("group_id", F.col("group_id").cast("string"))
    )


def _q_soft_dedup_weights(spark, sf_dir):
    """SoftDeDup (He et al. 2024): reweight near-duplicates instead of
    dropping them. Same exact 3-gram Jaccard pair graph as
    `dedup_group_assign`, resolved to components; each doc gets
    commonness = group size and weight = (1/commonness)·N/G with G the
    exact group count (Σ 1/cᵢ = G, so the normalizer is integer-exact
    and the only float op is one division per row — hash-portable).
    The DuckDB oracle recomputes the closure recursively and applies
    the identical arithmetic."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import (
        ngram_jaccard_pairs,
        soft_dedup_weights,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5, max_doc_freq=100)
    return soft_dedup_weights(docs, pairs).withColumn(
        "doc_id", F.col("doc_id").cast("string")
    )


def _q_semdedup_assign(spark, sf_dir):
    """SemDeDup (Abbas 2023): cluster-scoped cosine pairs → transitive
    groups → one survivor per group. Cells here are the deterministic
    axis-sign partitioner (8 cells) so the DuckDB oracle reproduces the
    scoping exactly; the paper's k-means cells ride the same operator
    via semdedup_ivf_cells (pytest-gated). keep=min_id for portability;
    the farthest-from-centroid paper policy is pytest-gated too."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import semdedup, semdedup_sign_cells
    from bloomine_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cells = semdedup_sign_cells(emb, n_bits=3)
    out = semdedup(cells, threshold=0.35)
    return (
        cells.select("vec_id", "cell")
        .join(out, "vec_id")
        .select(
            F.col("vec_id").cast("string").alias("vec_id"),
            F.col("cell").cast("long").alias("cell"),
            F.col("group_id").cast("string").alias("group_id"),
            "group_size",
            "keep",
        )
    )


def _q_contamination_screen(spark, sf_dir):
    """Train/test decontamination: train docs (source != 'src0') sharing
    any word 3-gram with the eval corpus (source == 'src0'), with the
    distinct shared-shingle count. Bloom built from the eval shingles
    prefilters train shingles inside the scan stage before the only wide
    exchange (GPT-3 appendix-C style; n=3 instead of 13 because the
    synthetic docs are short — the machinery is n-independent)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import contamination_screen
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return contamination_screen(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=3,
    ).withColumn("doc_id", F.col("doc_id").cast("string"))


def _q_minhash_lsh_dups(spark, sf_dir):
    """MinHash+LSH near-dup pairs (hash-dependent → no SQL oracle;
    planted-duplicate recall is gated in tests/test_dedup_similarity.py)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import minhash_lsh_duplicates
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_duplicates(docs, num_perm=64, bands=16, threshold=0.5)


def _q_simhash_dups(spark, sf_dir):
    """SimHash hamming≤3 near-dup pairs via chunk banding (pytest-gated;
    the fingerprint SEMANTICS are oracle-HASH-checked by the portable-hash
    twin simhash_relational)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import simhash_duplicates
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return simhash_duplicates(docs, max_hamming=3)


def _q_embedding_near_dup_exact(spark, sf_dir):
    """Exact cosine≥0.35 pairs (blockwise matmul vs broadcast matrix)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import embedding_near_dup_exact
    from bloomine_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_exact(emb, threshold=0.35).select("id_a", "id_b")


def _q_embedding_near_dup_lsh(spark, sf_dir):
    """Hyperplane-LSH near-dup path (scale variant). The natural fixture has
    no ≥0.9-cosine pairs, so 10 deterministic near-duplicates are planted
    (clone ids offset by 1e6, per-coordinate scale ±0.15%) — the driver run
    itself demonstrates nonzero recall, not just the pytest planted-pair
    gate; exact verify still filters at the same threshold."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import embedding_near_dup_lsh
    from bloomine_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    clones = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.transform(
            "embedding",
            lambda x, i: x * (1.0 + 0.0005 * ((i % 7).cast("double") - 3.0)),
        ).alias("embedding"),
    )
    return embedding_near_dup_lsh(
        emb.unionByName(clones), threshold=0.9, n_planes=12, n_tables=8
    )


def _q_scrub_pii(spark, sf_dir):
    """Curation scrub: replace emails/IPv4s/phone-shaped runs with typed
    tags + per-doc counts, pure codegen expressions (no shuffle). PII is
    planted deterministically on doc_id % 50 == 0 so the scrub is exercised
    (the synthetic corpus contains none); the oracle plants and scrubs with
    the IDENTICAL pattern strings (textops.PII_PATTERNS)."""
    from bloomine_spark.operators.textops import scrub_pii
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    planted = F.when(
        F.col("doc_id") % 50 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com from 10.0.0.1 call 555-123-4567"),
        ),
    ).otherwise(F.col("text"))
    return scrub_pii(docs.withColumn("text", planted))


def _q_c4_clean(spark, sf_dir):
    """C4 rule pack (Raffel 2020 §2.2). The flat synthetic corpus has no
    newlines/punctuation, so page structure is PLANTED deterministically
    (scrub_pii pattern; the oracle plants with identical expressions):
    doc_id%7 → punctuated multi-line page, %11 → lorem-ipsum line,
    %13 → blocklist line, %17 → curly-brace line, %19 → javascript
    line. Non-%7 pages lose every line to the terminal-punct rule and
    die as too_few_sentences; composite moduli exercise each page rule
    and the first-failing-rule order."""
    from bloomine_spark.operators.textops import c4_clean
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.col("text")
    p = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(F.replace(t, F.lit(" table "), F.lit(".\n")), F.lit(".")),
    ).otherwise(t)
    p = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(p, F.lit(
            "\nlorem ipsum dolor sit amet consectetur adipiscing elit."
        )),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(p, F.lit(
            "\nthis page contains badword1 obviously right here."
        )),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(p, F.lit("\nsee the {curly} bracket inline here today.")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 19 == 0,
        F.concat(p, F.lit(
            "\nplease enable javascript to view this content now."
        )),
    ).otherwise(p)
    out = c4_clean(docs.withColumn("text", p))
    return out.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        "text", "n_lines_kept", "n_lines_dropped", "n_sentences",
        "page_keep", "reason",
    )


def _q_repetition_scores(spark, sf_dir):
    """Gopher-style intra-doc repetition metrics (top 2-gram fraction,
    distinct 2-gram ratio) — a curation filter input; one narrow
    (doc_id, gram) shuffle, oracle-exact."""
    from bloomine_spark.operators.textops import repetition_scores
    from bloomine_spark.sources.tables import load_table

    return repetition_scores(load_table(spark, sf_dir, "documents"))


def _q_gpt3_window_decontaminate(spark, sf_dir):
    """GPT-3 surgical decontamination (Brown 2020 App. C): the eval set
    is derived IN-QUERY from the corpus itself — words 4..16 of every
    doc_id%23 doc form one exact 13-gram each (deterministic, no
    external data; the oracle derives identically). Colliding docs get
    a 60-char window cut around each hit, pieces <40 chars die, docs
    shattering into >10 pieces are dropped; everything else passes
    through whole. Result is Bloom-independent: bloom_semi_join is
    exact (FPs removed by the inner semi-join)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import gpt3_window_decontaminate
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 23 == 0).select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 4, 13), " ")
        .alias("text"),
    )
    return gpt3_window_decontaminate(
        docs, ev, n=13, window=60, min_piece_chars=40, max_pieces=10,
    ).orderBy("doc_id", "piece_idx")


def _q_refinedweb_line_correct(spark, sf_dir):
    """RefinedWeb line-wise corrections (Penedo 2023 App. G.2). The flat
    synthetic corpus has no boilerplate, so lines are PLANTED
    deterministically (c4_clean pattern; oracle plants identically):
    %7 → shouting (mainly-uppercase) line, %11 → numeric-only line,
    %13 → social-counter line, %17 → nav word, %41 → the whole text
    replaced by a mostly-boilerplate page so the 50% document rule
    fires. Composite moduli exercise multi-line removal."""
    from bloomine_spark.operators.textops import refinedweb_line_correct
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = F.col("text")
    p = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(p, F.lit("\nBUY NOW LIMITED TIME OFFER")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(p, F.lit("\n2026-08-18 12:00:05")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(p, F.lit("\n1234 likes")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(p, F.lit("\nLogin")),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 41 == 0,
        F.lit("SHOUTING HEADLINE ONE\n99 views\nsmall ok line"),
    ).otherwise(p)
    out = refinedweb_line_correct(docs.withColumn("text", p))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text", "n_lines_kept", "n_lines_removed", "removed_char_frac",
        "keep", "reason",
    )


def _q_gopher_repetition_rules(spark, sf_dir):
    """Full Gopher repetition rule pack (Rae 2021 Table A1): duplicate
    line/paragraph fractions + char fractions, top-{2,3,4}-gram char
    fraction, duplicated-{5..10}-gram positional char coverage, all 13
    thresholds as integer cross-multiplications. The flat synthetic
    corpus has little intra-doc repetition, so structure is PLANTED
    deterministically (c4_clean pattern; oracle plants identically):
    %7 → a repeated line, %11 → a repeated paragraph, %13 → a degenerate
    2-word loop, %17 → a repeated 6-word phrase."""
    from bloomine_spark.operators.textops import gopher_repetition
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    p = F.col("text")
    p = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(p, F.lit(
            "\nrepeat line here now.\nrepeat line here now."
        )),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 11 == 0,
        F.concat(p, F.lit(
            "\n\nsame paragraph twice content.\n\n"
            "same paragraph twice content."
        )),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 13 == 0,
        F.concat(p, F.lit(" " + ("spam ham " * 12).strip())),
    ).otherwise(p)
    p = F.when(
        F.col("doc_id") % 17 == 0,
        F.concat(p, F.lit(
            " one two three four five six one two three four five six"
        )),
    ).otherwise(p)
    return gopher_repetition(docs.withColumn("text", p)).orderBy("doc_id")


def _ann_queries(spark, sf_dir, n=5):
    from bloomine_spark.sources.tables import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.filter(F.col("vec_id") < n).collect()
    return emb, [(int(r["vec_id"]), list(map(float, r["embedding"]))) for r in rows]


def _q_ann_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-10 for 5 query vectors (exact baseline)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.similarity import brute_force_topk

    emb, queries = _ann_queries(spark, sf_dir)
    return brute_force_topk(emb, queries, k=10).select("query_id", "neighbor_id")


def _q_ann_ivf_topk(spark, sf_dir):
    """IVF approximate top-10 (scale path; recall gated in pytest).
    nprobe=4 of nlist=8 prunes half the cells; assign=3
    multi-assignment (each vector indexed in its top-3 cells) lifts
    recall@10 from 0.76 to 1.0 on this fixture WITHOUT widening the
    probe — boundary neighbors are the only IVF loss, so indexing them
    redundantly is the dial that doesn't cost query I/O (index grows
    ×assign instead; see similarity.ivf_topk)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.similarity import ivf_topk

    emb, queries = _ann_queries(spark, sf_dir)
    return ivf_topk(emb, queries, k=10, nlist=8, nprobe=4, assign=3).select(
        "query_id", "neighbor_id"
    )


def _q_ann_pq_topk(spark, sf_dir):
    """Product-quantization ANN (Jégou 2011), the compressed-domain
    scale path: vectors encode to m=16 sub-codes (64-dim float64 →
    16 bytes, 32×), ADC scores candidates via per-query lookup tables
    with no float vector read, then ONE broadcast-joined scan rescores
    the top k·8 candidates exactly (IVFADC+R). recall@10 = 1.0 vs the
    exact baseline at both driver SFs (pytest-gated ≥0.9; rows-only
    here — codebooks are k-means artifacts, not SQL-expressible)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb, queries = _ann_queries(spark, sf_dir)
    books = train_pq_codebooks(emb, m=16, ksub=256)
    codes = pq_encode(emb, books)
    return pq_topk(codes, queries, books, k=10, emb=emb, refine=8).select(
        "query_id", "neighbor_id"
    )


def _q_token_counts(spark, sf_dir):
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import token_counts
    from bloomine_spark.sources.tables import load_table

    return token_counts(load_table(spark, sf_dir, "documents"))


def _q_quality_scores(spark, sf_dir):
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import quality_scores
    from bloomine_spark.sources.tables import load_table

    return quality_scores(load_table(spark, sf_dir, "documents"))


def _q_lang_id(spark, sf_dir):
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import lang_id
    from bloomine_spark.sources.tables import load_table

    return lang_id(load_table(spark, sf_dir, "documents"))


def _q_doc_fingerprint_md5(spark, sf_dir):
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import fingerprint_md5
    from bloomine_spark.sources.tables import load_table

    return fingerprint_md5(load_table(spark, sf_dir, "documents"))


def _q_doc_fingerprint_winnow(spark, sf_dir):
    """Winnowing fingerprints, SQL-portable variant: md5-prefix k-gram
    hashes + window minima as PURE Catalyst expressions (whole-stage
    codegen, no Python), oracle-HASH-checked fingerprint-for-fingerprint
    against DuckDB's identical md5 (r6 promotion; the numpy rolling-hash
    variant `fingerprint_winnow` remains the throughput path and is
    pytest-gated)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.textops import fingerprint_winnow_sql
    from bloomine_spark.sources.tables import load_table

    return fingerprint_winnow_sql(load_table(spark, sf_dir, "documents")).select(
        "doc_id",
        F.array_join("fingerprints", "|").alias("fingerprints"),
        "n_fingerprints",
        "min_fp",
    )


# ---------------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------------

# phrase-search driver constant — the oracle interpolates the SAME list
PHRASE_QUERIES = [
    "table hash",
    "merge group",
    "table window table",  # repeated word: 'table' at offsets 0 and 2
    "key agg row",
]


def _q_pmi_collocations_topk(spark, sf_dir):
    """Bigram collocations by Dunning G² log-likelihood ratio with PMI
    alongside (Dunning 1993; Manning & Schütze §5.3.4) — the standard
    corpus-linguistics association pair. Everything derives from the ONE
    bigram-type relation (vocab²-bounded): margins are broadcast-sized
    re-aggregations, N is a 1-row scalar, every ln stays in codegen; the
    rank window sees only the ≥min_count collocation types."""
    from bloomine_spark.operators.collocations import collocation_scores
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return collocation_scores(docs, min_count=5, top_k=50)


def _q_phrase_search_docs(spark, sf_dir):
    """Exact phrase search via positional-postings intersection (the
    relational positional inverted index, Manning IR §2.4.2): postings
    filtered to the phrase vocabulary IN-SCAN, broadcast phrase-word
    relation, one groupBy on (phrase, doc, start) — a start holding all
    k offsets is an occurrence; no per-word join chain."""
    from bloomine_spark.operators.retrieval import phrase_search
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    return phrase_search(docs, PHRASE_QUERIES)


def _q_readability_per_source(spark, sf_dir):
    """Flesch reading-ease + Flesch–Kincaid grade per source over a
    deterministic vowel-group syllable heuristic; sentence terminators
    are PLANTED on word-position moduli (the corpus has none) so the
    sentence-count path is genuinely exercised. All inputs are exact
    integer sums per source; the scores are one pinned double sequence."""
    from bloomine_spark.operators.textops import readability_per_source
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    planted = docs.withColumn(
        "text",
        F.concat_ws(
            " ",
            F.transform(
                F.split("text", " "),
                lambda w, i: F.when(i % 8 == 7, F.concat(w, F.lit(".")))
                .when(i % 19 == 18, F.concat(w, F.lit("!")))
                .otherwise(w),
            ),
        ),
    )
    return readability_per_source(planted)


def _q_ngram_containment_pairs(spark, sf_dir):
    """Exact 3-gram CONTAINMENT pairs (Broder 1997's asymmetric c(A,B)
    = |A∩B|/|A|): the quote/boilerplate-embedding signal Jaccard
    dilutes away when one document is much larger. Same capped
    shared-shingle equi-join plan as ngram_jaccard_pairs; both
    directions emitted per unordered pair."""
    _ship_pkg(spark)
    from bloomine_spark.operators.dedup import ngram_containment_pairs
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    return ngram_containment_pairs(
        docs, n=3, min_containment=0.7, max_doc_freq=100
    )


def _q_distinctive_terms_per_source(spark, sf_dir):
    """Monroe/Colaresi/Quinn 2008 "Fightin' Words" keyness: per-source
    distinctive terms by log-odds z-score under a corpus-rate Dirichlet
    prior — the audit statistic for "what vocabulary characterizes this
    source against the rest". One corpus scan; margins broadcast; the
    prior shrinks hapax log-odds toward zero."""
    _ship_pkg(spark)
    from bloomine_spark.operators.collocations import (
        distinctive_terms_per_source,
    )
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    return distinctive_terms_per_source(docs, prior_mass=10.0, top_k=10)


def _q_asof_click_attribution(spark, sf_dir):
    """Backward as-of join (the attribution join): every purchase event
    picks the user's LATEST click at-or-before it — pandas merge_asof /
    DuckDB ASOF JOIN semantics, left-outer. The plan is the union+window
    formulation: ONE hash exchange on user_id carries both sides, a
    single ordered window forwards the click payload, and NO join node
    exists — shuffle volume is |purchases|+|clicks| rows independent of
    per-user match counts (the skew-proof form at 100 TB)."""
    from bloomine_spark.operators.temporal import asof_join
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id",
        "ts",
        F.col("event_id").alias("click_event_id"),
        F.col("value").alias("click_value"),
    )
    out = asof_join(purchases, clicks, on="user_id", left_ts="ts")
    return out.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.col("ts_right").alias("click_ts"),
        "click_event_id",
        "click_value",
        F.expr("timestampdiff(MICROSECOND, ts_right, ts)").alias("gap_us"),
    )


def _q_funnel_signup_click_purchase(spark, sf_dir):
    """Windowed funnel (ClickHouse windowFunnel semantics, greedy
    earliest-completion): signup → click → purchase within 48 h of the
    first signup; one row per user that signed up, with stage timestamps
    and the stage count. k−1 bounded relational passes — plan size is
    O(steps), never O(events)."""
    from bloomine_spark.operators.temporal import window_funnel
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return window_funnel(
        ev,
        ["signup", "click", "purchase"],
        window_us=48 * 3600 * 1_000_000,
    )


def _q_retention_weekly_cohorts(spark, sf_dir):
    """First-touch weekly retention cohorts: cohort = 7-day bucket (from
    2024-01-01) of the user's first event; (cohort_week, week_offset) →
    distinct users + events. Pure integer week-index arithmetic — no
    engine week-start convention in the result. Cohorted over the sparse
    deterministic event subset event_id % 20 == 0 (~5%) so first-touch
    genuinely spreads across weeks — on the full stream every user's
    first event lands in week 0 and the matrix degenerates to one
    cohort."""
    from bloomine_spark.operators.temporal import retention_cohorts
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_id") % 20 == 0
    )
    return retention_cohorts(ev)


def _q_events_rollup_day(spark, sf_dir):
    """Multi-level ROLLUP aggregation (event_type, day) with subtotal and
    grand-total rows — the OLAP cube face of the engine; sums are exact
    decimal so every total is order-independent."""
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .rollup("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
            "n_events",
            "sum_value",
        )
    )


def _q_events_cube_day(spark, sf_dir):
    """Full CUBE over (event_type, day) — all four grouping sets in one
    pass, the GROUPING SETS sibling of `events_rollup_day`. Counts are
    integer-exact; the value total is an exact decimal sum so every
    subtotal is order-independent; distinct users per cell exercises the
    expand+distinct path under grouping sets."""
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.to_date("ts"))
        .cube("event_type", "day")
        .agg(
            F.count("*").alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("ALL")).alias("event_type"),
            F.coalesce(F.col("day").cast("string"), F.lit("ALL")).alias("day"),
            "n_events",
            "n_users",
            "sum_value",
        )
    )


def _linkage_base(spark, sf_dir):
    """Documents + planted last-char typo variants (doc_id % 7, shifted
    id space) — the record-linkage fixture: the typo edits the text tail
    so the first-word blocking key survives, and lev(original, variant)
    is exactly 1."""
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    typo = docs.filter(F.col("doc_id") % 7 == 0).select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.expr("concat(substring(text, 1, length(text)-1), 'x')").alias(
            "text"
        ),
    )
    return docs.unionByName(typo)


def _q_fuzzy_edit_pairs_docs(spark, sf_dir):
    """Record-linkage candidate pairs: first-word blocking + banded
    Levenshtein verify (≤2) — the Fellegi-Sunter block-then-compare
    pattern. Planted single-edit variants pair with their originals at
    dist 1; the corpus's planted exact duplicates surface at dist 0.
    Blocking bounds the pairwise stage to Σ|block|²; the verify runs
    JVM-side with the O(len·k) banded levenshtein, never the full DP."""
    _ship_pkg(spark)
    from bloomine_spark.operators.linkage import blocked_edit_pairs

    base = _linkage_base(spark, sf_dir)
    return blocked_edit_pairs(
        base,
        block=F.element_at(F.split(F.col("text"), " "), 1),
        max_dist=2,
    ).withColumn("dist", F.col("dist").cast("long"))


def _q_er_canonical_docs(spark, sf_dir):
    """Entity resolution end-to-end: fuzzy pairs → connected components
    (alternating large-star/small-star) → one canonical record per
    entity cluster. The DuckDB oracle recomputes the identical pair
    graph and closes it with a recursive CTE — group_id = component
    minimum on both sides."""
    _ship_pkg(spark)
    from bloomine_spark.operators.linkage import (
        blocked_edit_pairs,
        resolve_entities,
    )

    base = _linkage_base(spark, sf_dir)
    pairs = blocked_edit_pairs(
        base,
        block=F.element_at(F.split(F.col("text"), " "), 1),
        max_dist=2,
    )
    return (
        resolve_entities(base, pairs)
        .withColumn("doc_id", F.col("doc_id").cast("string"))
        .withColumn("group_id", F.col("group_id").cast("string"))
    )


def _q_fingerprint_clusters_docs(spark, sf_dir):
    """OpenRefine fingerprint clustering: lowercase → strip punctuation
    → token-sort → token-dedup; records sharing the key cluster with no
    pairwise stage at all (the O(n) linkage front door). Planted noise
    variants (doc_id % 11: first two words swapped, one uppercased,
    trailing period) collide with their originals by construction."""
    _ship_pkg(spark)
    from bloomine_spark.operators.linkage import fingerprint_clusters
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    s = F.split(F.col("text"), " ")
    noisy = docs.filter(F.col("doc_id") % 11 == 0).select(
        (F.col("doc_id") + 2000000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.upper(F.element_at(s, 2)),
            F.element_at(s, 1),
            F.concat(
                F.array_join(F.slice(s, 3, 1000000), " "), F.lit(".")
            ),
        ).alias("text"),
    )
    return (
        fingerprint_clusters(docs.unionByName(noisy))
        .withColumn("id", F.col("id").cast("string"))
        .withColumn("canonical_id", F.col("canonical_id").cast("string"))
    )


def _q_mad_outlier_docs(spark, sf_dir):
    """Robust per-source outlier flags on token counts: exact median +
    MAD, modified z-score (Iglewicz-Hoaglin 0.6745·(x−med)/MAD, flag at
    3.5) — the distribution-hygiene pass run before thresholding on any
    per-document metric. MAD-degenerate groups yield NULL scores and no
    flags by convention."""
    _ship_pkg(spark)
    from bloomine_spark.operators.robust import mad_outliers
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        "source",
        "doc_id",
        F.size(F.split("text", " ")).alias("n_tokens"),
    )
    return mad_outliers(v, "n_tokens", "source", "doc_id")


def _q_winsorize_stats_docs(spark, sf_dir):
    """Per-source winsorization bounds (exact p01/p99, shared linear
    interpolation) with below/above tail counts — the clip audit a
    pipeline records when taming metric tails before mean-based
    downstream stats."""
    _ship_pkg(spark)
    from bloomine_spark.operators.robust import winsorize
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    v = docs.select(
        "source", F.size(F.split("text", " ")).alias("n_tokens")
    )
    w = winsorize(v, "n_tokens", "source", 0.01, 0.99)
    return w.groupBy("source").agg(
        F.count("*").alias("n"),
        F.round(F.first("p_lo"), 6).alias("p_lo"),
        F.round(F.first("p_hi"), 6).alias("p_hi"),
        F.sum(
            (F.col("n_tokens").cast("double") < F.col("p_lo")).cast("long")
        ).alias("n_below"),
        F.sum(
            (F.col("n_tokens").cast("double") > F.col("p_hi")).cast("long")
        ).alias("n_above"),
    )


def _q_rolling_user_value_7d(spark, sf_dir):
    """Trailing 7-day per-user rolling aggregates over the event log —
    the irregular-time-series feature primitive (RANGE frame over exact
    integer microseconds, value-defined so peers are always whole; the
    sum is an exact decimal, order-independent by construction)."""
    _ship_pkg(spark)
    from bloomine_spark.operators.timeseries import rolling_stats
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return rolling_stats(ev, window_s=7 * 86400)


def _q_ewma_user_value(spark, sf_dir):
    """Finite-horizon EWMA smoothing per user (alpha 0.3, horizon 40):
    the per-row value is a FIXED left-to-right 40-term sum — identical
    FP sequence on any engine/partitioning, unlike a running-frame
    double sum — normalized by the weights present so series heads are
    exact smoothed means."""
    _ship_pkg(spark)
    from bloomine_spark.operators.timeseries import ewma
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "value"
    )
    return ewma(ev, alpha=0.3, horizon=40)


def _q_scd2_user_state(spark, sf_dir):
    """Change-event log → type-2 slowly-changing-dimension intervals
    (the temporal-table primitive): per user, maximal validity intervals
    of event_type with consecutive-equal collapse, valid_to = next
    change, NULL while current."""
    _ship_pkg(spark)
    from bloomine_spark.operators.timeseries import scd2_intervals
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("event_type").alias("state")
    )
    return scd2_intervals(ev, value_col="state")


def _q_scd2_apply_user_state(spark, sf_dir):
    """Incremental SCD2 maintenance: the event log splits at 2024-01-16
    into a base half (built into a type-2 table once) and a change
    batch applied with scd2_apply_changes — closed intervals pass
    through untouched, only affected keys' open rows re-enter the
    windows. The oracle is the FULL-log SCD2 (identical SQL to
    scd2_user_state): the maintenance invariant apply(intervals(log1),
    log2) == intervals(log1+log2) is the gate itself."""
    _ship_pkg(spark)
    from bloomine_spark.operators.timeseries import (
        scd2_apply_changes,
        scd2_intervals,
    )
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", F.col("event_type").alias("state")
    )
    pivot = F.lit("2024-01-16").cast("timestamp_ntz")
    base = scd2_intervals(ev.filter(F.col("ts") < pivot),
                          value_col="state")
    return scd2_apply_changes(
        base, ev.filter(F.col("ts") >= pivot), value_col="state"
    )


def _q_zorder_key_events(spark, sf_dir):
    """Morton/Z-order interleave key over two event dimensions (user
    grid x value grid, 10 bits each) — the lakehouse multi-dimensional
    clustering key behind OPTIMIZE..ZORDER; pure integer codegen (32
    shift/mask terms), bit-identical across engines by construction.
    The layout rewrite + file-skipping evidence lives in
    BENCH/zorder_probe.py."""
    _ship_pkg(spark)
    from bloomine_spark.operators.zorder import z_value
    from bloomine_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    gx = F.pmod(F.col("user_id"), F.lit(1024))
    gy = F.pmod(F.floor(F.col("value") * 10).cast("long"), F.lit(1024))
    return ev.select(
        "event_id",
        gx.alias("gx"),
        gy.alias("gy"),
        z_value([gx, gy], bits=10).alias("z"),
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    _ensure_path()
    return {
        "two_phase_screen": _q_two_phase_screen,
        "screen_hits_per_source": _q_screen_hits_per_source,
        "bloom_token_filter": _q_bloom_token_filter,
        "moi_variant_lengths": _q_moi_variant_lengths,
        "cascade_combined_scores": _q_cascade_combined_scores,
        "flank_log_merge_events": _q_flank_log_merge_events,
        "argmax_probe_lineitem": _q_argmax_probe_lineitem,
        "top_order_per_customer": _q_top_order_per_customer,
        "max_sum_lineitems": _q_max_sum_lineitems,
        "flank_intersection_customers": _q_flank_intersection_customers,
        "distinct_kgrams_per_source_exact": _q_distinct_kgrams_per_source_exact,
        "hll_distinct_kgrams_per_source": _q_hll_distinct_kgrams_per_source,
        "token_freq_topk_exact": _q_token_freq_topk_exact,
        "cms_token_freq_topk": _q_cms_token_freq_topk,
        "ntok_quantiles_per_source_exact": _q_ntok_quantiles_per_source_exact,
        "kll_ntok_quantiles": _q_kll_ntok_quantiles,
        "tdigest_ntok_quantiles": _q_tdigest_ntok_quantiles,
        "events_hourly_agg": _q_events_hourly_agg,
        "events_sessionize": _q_events_sessionize,
        "lineitem_pricing_summary": _q_lineitem_pricing_summary,
        "salted_source_counts": _q_salted_source_counts,
        "exact_dup_docs": _q_exact_dup_docs,
        "ngram_jaccard_pairs": _q_ngram_jaccard_pairs,
        "dedup_group_assign": _q_dedup_group_assign,
        "soft_dedup_weights": _q_soft_dedup_weights,
        "contamination_screen": _q_contamination_screen,
        "minhash_lsh_dups": _q_minhash_lsh_dups,
        "simhash_dups": _q_simhash_dups,
        "semdedup_assign": _q_semdedup_assign,
        "embedding_near_dup_exact": _q_embedding_near_dup_exact,
        "embedding_near_dup_lsh": _q_embedding_near_dup_lsh,
        "ann_cosine_topk": _q_ann_cosine_topk,
        "ann_ivf_topk": _q_ann_ivf_topk,
        "ann_pq_topk": _q_ann_pq_topk,
        "token_counts": _q_token_counts,
        "quality_scores": _q_quality_scores,
        "lang_id": _q_lang_id,
        "doc_fingerprint_md5": _q_doc_fingerprint_md5,
        "scrub_pii": _q_scrub_pii,
        "c4_clean": _q_c4_clean,
        "gopher_repetition_rules": _q_gopher_repetition_rules,
        "refinedweb_line_correct": _q_refinedweb_line_correct,
        "heaps_fit_per_source": _q_heaps_fit_per_source,
        "gpt3_window_decontaminate": _q_gpt3_window_decontaminate,
        "ngram_novelty_per_source": _q_ngram_novelty_per_source,
        "nb_langid_confusion": _q_nb_langid_confusion,
        "line_dedup_docs": _q_line_dedup_docs,
        "boilerplate_line_df_docs": _q_boilerplate_line_df_docs,
        "k_anonymity_audit_customers": _q_k_anonymity_audit_customers,
        "generalize_k_customers": _q_generalize_k_customers,
        "jw_pairs_names": _q_jw_pairs_names,
        "profile_lineitem": _q_profile_lineitem,
        "binned_price_orders": _q_binned_price_orders,
        "phonetic_jw_pairs_names": _q_phonetic_jw_pairs_names,
        "tfidf_cosine_topk_per_source": _q_tfidf_cosine_topk_per_source,
        "incremental_screen_docs": _q_incremental_screen_docs,
        "chunk_documents": _q_chunk_documents,
        "snapshot_diff_docs": _q_snapshot_diff_docs,
        "script_mix_docs": _q_script_mix_docs,
        "source_overlap_docs": _q_source_overlap_docs,
        "ccnet_normalize": _q_ccnet_normalize,
        "sample_by_hash": _q_sample_by_hash,
        "priority_sample_per_source": _q_priority_sample_per_source,
        "wordpiece_fertility_per_source": _q_wordpiece_fertility,
        "unigram_segment_stats_per_source": _q_unigram_segment_stats,
        "repetition_scores": _q_repetition_scores,
        "doc_fingerprint_winnow": _q_doc_fingerprint_winnow,
        "polyfamily_assign_docs": _q_polyfamily_assign_docs,
        "regional_revenue": _q_regional_revenue,
        "mg_token_topk": _q_mg_token_topk,
        "distinct_tokens_setops_exact": _q_distinct_tokens_setops_exact,
        "theta_tokens_setops": _q_theta_tokens_setops,
        "cms_relational_topk": _q_cms_relational_topk,
        "kmv_relational_setops": _q_kmv_relational_setops,
        "bloom_relational_screen": _q_bloom_relational_screen,
        "sample_quantiles_relational": _q_sample_quantiles_relational,
        "pack_context_windows": _q_pack_context_windows,
        "pack_sharded_chunks": _q_pack_sharded_chunks,
        "hash_split_assign": _q_hash_split_assign,
        "source_mixture_plan": _q_source_mixture_plan,
        "unimax_alloc": _q_unimax_alloc,
        "bestfit_pack_bins": _q_bestfit_pack_bins,
        "epoch_pack_chunks": _q_epoch_pack_chunks,
        "vocab_coverage_curve": _q_vocab_coverage_curve,
        "gopher_quality_per_source": _q_gopher_quality_per_source,
        "unigram_ppl_per_source": _q_unigram_ppl_per_source,
        "stratified_sample_docs": _q_stratified_sample_docs,
        "dup_span_coverage_per_source": _q_dup_span_coverage_per_source,
        "dsir_importance_per_source": _q_dsir_importance_per_source,
        "token_f2_per_source_exact": _q_token_f2_per_source_exact,
        "bigram_ppl_per_source": _q_bigram_ppl_per_source,
        "kn_ppl_per_source": _q_kn_ppl_per_source,
        "ccnet_ppl_buckets": _q_ccnet_ppl_buckets,
        "zipf_fit_per_source": _q_zipf_fit_per_source,
        "bm25_topk_per_source": _q_bm25_topk_per_source,
        "ql_dirichlet_topk_per_source": _q_ql_dirichlet_topk_per_source,
        "source_jsd_pairs": _q_source_jsd_pairs,
        "countsketch_token_f2": _q_countsketch_token_f2,
        "countsketch_relational_f2": _q_countsketch_relational_f2,
        "bpe_learn_merges": _q_bpe_learn_merges,
        "bpe_fertility_per_source": _q_bpe_fertility_per_source,
        "bpe_transfer_stats": _q_bpe_transfer_stats,
        "simhash_relational": _q_simhash_relational,
        "hll_relational_per_source": _q_hll_relational_per_source,
        "minhash_relational_jaccard": _q_minhash_relational_jaccard,
        "jaccard_sources_exact": _q_jaccard_sources_exact,
        "minhash_jaccard_sources": _q_minhash_jaccard_sources,
        "curate_training_docs": _q_curate_training_docs,
        "bloom_semi_join_orders": _q_bloom_semi_join_orders,
        "asof_click_attribution": _q_asof_click_attribution,
        "funnel_signup_click_purchase": _q_funnel_signup_click_purchase,
        "retention_weekly_cohorts": _q_retention_weekly_cohorts,
        "events_rollup_day": _q_events_rollup_day,
        "pmi_collocations_topk": _q_pmi_collocations_topk,
        "phrase_search_docs": _q_phrase_search_docs,
        "readability_per_source": _q_readability_per_source,
        "ngram_containment_pairs": _q_ngram_containment_pairs,
        "distinctive_terms_per_source": _q_distinctive_terms_per_source,
        "events_cube_day": _q_events_cube_day,
        "fuzzy_edit_pairs_docs": _q_fuzzy_edit_pairs_docs,
        "er_canonical_docs": _q_er_canonical_docs,
        "fingerprint_clusters_docs": _q_fingerprint_clusters_docs,
        "mad_outlier_docs": _q_mad_outlier_docs,
        "winsorize_stats_docs": _q_winsorize_stats_docs,
        "rolling_user_value_7d": _q_rolling_user_value_7d,
        "ewma_user_value": _q_ewma_user_value,
        "scd2_user_state": _q_scd2_user_state,
        "scd2_apply_user_state": _q_scd2_apply_user_state,
        "zorder_key_events": _q_zorder_key_events,
    }


def _sp_score_cte(name: str, phrase: str, docs_cte: str = "tok") -> str:
    """CTE chain computing (doc_id, rc, score) — the FULL SP screen of one
    3-word phrase at k=2 — over `{docs_cte}` (doc_id, t := word list).

    Mirrors the kernel exactly: FP pass = ≥1 distinct target bigram
    (forward, else reversed-array retry per F4); matched windows paint
    2-token intervals onto the token canvas; fragments = maximal covered
    token runs (gap_threshold is 1 at k=2, so EVERY gap splits); the X9
    fragment DP ``max over i≤j of Σs − Σ(go + ge·gap − 1)`` collapses to
    prefix sums: score = max_j(Q_j + running_max(s_i − Q_i)) where
    Q = cumsum(s − bridge_before). Bloom FP does not appear because the
    promoted queries run at fp=1e-9 (zero realized FPs at any test SF).
    """
    w = phrase.split(" ")
    g1, g2 = f"{w[0]} {w[1]}", f"{w[1]} {w[2]}"
    return f"""
        wf_{name} AS (
          SELECT doc_id, i AS pos,
                 (t[i + 1] || ' ' || t[i + 2]) IN ('{g1}', '{g2}') AS cov
          FROM {docs_cte}, unnest(range(0, len(t) - 1)) AS u(i)
          WHERE len(t) >= 2
        ),
        wr_{name} AS (
          SELECT doc_id, i AS pos,
                 (r[i + 1] || ' ' || r[i + 2]) IN ('{g1}', '{g2}') AS cov
          FROM (SELECT doc_id, list_reverse(t) AS r FROM {docs_cte}),
               unnest(range(0, len(r) - 1)) AS u(i)
          WHERE len(r) >= 2
        ),
        dir_{name} AS (
          SELECT f.doc_id, bool_or(f.cov) AS fwd_fp, bool_or(r.cov) AS rc_fp
          FROM wf_{name} f JOIN wr_{name} r
            ON f.doc_id = r.doc_id AND f.pos = r.pos
          GROUP BY f.doc_id
        ),
        mwin_{name} AS (
          SELECT w.doc_id, FALSE AS rc, w.pos
          FROM wf_{name} w JOIN dir_{name} d ON w.doc_id = d.doc_id
          WHERE d.fwd_fp AND w.cov
          UNION ALL
          SELECT w.doc_id, TRUE AS rc, w.pos
          FROM wr_{name} w JOIN dir_{name} d ON w.doc_id = d.doc_id
          WHERE NOT d.fwd_fp AND d.rc_fp AND w.cov
        ),
        ctok_{name} AS (
          SELECT DISTINCT doc_id, rc, pos + dd.d AS tpos
          FROM mwin_{name}, (VALUES (0), (1)) AS dd(d)
        ),
        runs_{name} AS (
          SELECT doc_id, rc, tpos,
                 tpos - ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY tpos) AS grp
          FROM ctok_{name}
        ),
        frag_{name} AS (
          SELECT doc_id, rc, MIN(tpos) AS fstart, 10 * COUNT(*) AS s
          FROM runs_{name} GROUP BY doc_id, rc, grp
        ),
        pref_{name} AS (
          SELECT doc_id, rc, s,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY fstart) AS rn,
                 SUM(s - CASE WHEN fstart = first_start THEN 0
                       ELSE 15 + 7 * (fstart - prev_end - 1) - 1 END)
                   OVER (PARTITION BY doc_id ORDER BY fstart) AS q
          FROM (
            SELECT doc_id, rc, fstart, s,
                   LAG(fstart + s // 10) OVER (
                     PARTITION BY doc_id ORDER BY fstart) - 1 AS prev_end,
                   MIN(fstart) OVER (PARTITION BY doc_id) AS first_start
            FROM frag_{name}
          )
        ),
        score_{name} AS (
          SELECT doc_id, bool_or(rc) AS rc, MAX(q + mx) AS score
          FROM (
            SELECT doc_id, rc, q,
                   MAX(s - q) OVER (PARTITION BY doc_id ORDER BY rn) AS mx
            FROM pref_{name}
          ) GROUP BY doc_id
        )"""


_SP_MST_K2 = 19.25  # ScreenParams(k=2).mst(2): kernel recomputes per target


def _bpe_apply_sql(k: int, src: str, dst: str, pair: str, tag: str) -> list[str]:
    """The greedy-merge application blocks, reusable for both the
    training chain (src=it{k}) and a transfer/encode chain (src=e{k}):
    candidate positions form gaps-and-islands runs (multi-position runs
    only exist when lhs == rhs), greedy selects the odd-ranked positions
    of each run, and the position after a selected one is consumed. An
    EMPTY pair relation (training exhausted early) makes every cand NULL
    → no-op, mirroring the engine's early stop."""
    return [
        f"""x{tag}{k} AS (
          SELECT w, freq, i, syms[i] AS s,
                 (i < len(syms)
                  AND syms[i] = (SELECT lhs FROM {pair})
                  AND syms[i + 1] = (SELECT rhs FROM {pair})) AS cand
          FROM {src}, unnest(range(1, len(syms) + 1)) AS u(i)
        )""",
        f"""y{tag}{k} AS (
          SELECT *, CASE WHEN cand THEN i - ROW_NUMBER() OVER (
                   PARTITION BY w, cand ORDER BY i) END AS isl
          FROM x{tag}{k}
        )""",
        f"""z{tag}{k} AS (
          SELECT *, COALESCE(cand AND (ROW_NUMBER() OVER (
                   PARTITION BY w, isl ORDER BY i) % 2 = 1), FALSE) AS sel
          FROM y{tag}{k}
        )""",
        f"""m{tag}{k} AS (
          SELECT w, freq, i,
                 CASE WHEN sel THEN s || (SELECT rhs FROM {pair})
                      ELSE s END AS s,
                 COALESCE(LAG(sel) OVER (PARTITION BY w ORDER BY i),
                          FALSE) AS consumed
          FROM z{tag}{k}
        )""",
        f"""{dst} AS MATERIALIZED (
          SELECT w, freq, list(s ORDER BY i) AS syms
          FROM m{tag}{k} WHERE NOT consumed GROUP BY w, freq
        )""",
    ]


def _bpe_char_cte(name: str, src: str) -> str:
    return f"""{name} AS MATERIALIZED (
          SELECT w, freq,
                 list_transform(range(1, length(w) + 1),
                                i -> substr(w, CAST(i AS INT), 1)) AS syms
          FROM {src}
        )"""


def _bpe_cte(n_merges: int, doc_where: str = "") -> str:
    """Unrolled DuckDB CTE chain replaying the BPE training contract of
    bloomine_spark/operators/bpe.py exactly: per round, pair counts over
    every adjacent symbol position weighted by word-type frequency, the
    winner by (count DESC, lhs, rhs), then the greedy merge blocks
    (_bpe_apply_sql). Defines w0, it0..it{n}, b0..b{n-1}. `doc_where`
    restricts the training corpus (e.g. 'WHERE doc_id % 2 = 0')."""
    parts = [
        f"""w0 AS MATERIALIZED (
          SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS t
            FROM documents {doc_where}
          ) WHERE t <> '' GROUP BY t
        )""",
        _bpe_char_cte("it0", "w0"),
    ]
    for k in range(n_merges):
        parts.append(f"""p{k} AS (
          SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
                 CAST(SUM(freq) AS BIGINT) AS c
          FROM it{k}, unnest(range(1, len(syms))) AS u(i)
          GROUP BY 1, 2
        )""")
        parts.append(f"""b{k} AS MATERIALIZED (
          SELECT lhs, rhs, c FROM p{k} ORDER BY c DESC, lhs, rhs LIMIT 1
        )""")
        parts.extend(_bpe_apply_sql(k, f"it{k}", f"it{k + 1}", f"b{k}", ""))
    return ",\n".join(parts)


def oracle_sql() -> dict[str, str]:
    pat = PATTERN
    sql = {}

    sql["two_phase_screen"] = f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
        FROM documents
        WHERE ' ' || text || ' ' LIKE '% {pat} %'
    """

    sql["screen_hits_per_source"] = f"""
        SELECT source, COUNT(*) AS n_hits
        FROM documents
        WHERE ' ' || text || ' ' LIKE '% {pat} %'
        GROUP BY source
    """

    like_any = " OR ".join(
        f"' ' || text || ' ' LIKE '% {w} %'" for w in BANNED_WORDS
    )
    sql["bloom_token_filter"] = f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, source
        FROM documents WHERE {like_any}
    """

    # MOI length variants: first occurrence of each flank; token index of a
    # char position p = number of spaces in text[1:p-1]; head anchor = last
    # head-flank token index, tail anchor = first tail-flank token index.
    f1, f2 = MOI_HEAD, MOI_TAIL
    n1 = len(f1.split(" "))
    sql["moi_variant_lengths"] = f"""
        WITH hit AS (
          SELECT text,
                 position('{f1}' IN text) AS p1,
                 position('{f2}' IN text) AS p2
          FROM documents
          WHERE ' ' || text || ' ' LIKE '% {f1} %'
            AND ' ' || text || ' ' LIKE '% {f2} %'
        ), anchored AS (
          SELECT
            CASE WHEN p1 = 1 THEN 0
                 ELSE length(substr(text, 1, p1 - 1))
                      - length(replace(substr(text, 1, p1 - 1), ' ', '')) END
              + {n1} - 1 AS head_tok,
            CASE WHEN p2 = 1 THEN 0
                 ELSE length(substr(text, 1, p2 - 1))
                      - length(replace(substr(text, 1, p2 - 1), ' ', '')) END
              AS tail_tok
          FROM hit
        )
        SELECT CAST(tail_tok - head_tok - 1 AS INT) AS variant_len,
               COUNT(*) AS n
        FROM anchored
        WHERE head_tok <= tail_tok
        GROUP BY 1
    """

    sql["flank_log_merge_events"] = """
        WITH f1 AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'click' THEN value END) AS f1_score,
                 MAX(CASE WHEN event_type = 'view' THEN value END) AS f1_rc_score
          FROM events WHERE event_type IN ('click', 'view') GROUP BY user_id
        ), f2 AS (
          SELECT user_id,
                 MAX(CASE WHEN event_type = 'purchase' THEN value END) AS f2_score,
                 MAX(CASE WHEN event_type = 'error' THEN value END) AS f2_rc_score
          FROM events WHERE event_type IN ('purchase', 'error') GROUP BY user_id
        )
        SELECT COALESCE(f1.user_id, f2.user_id) AS user_id,
               f1_score, f1_rc_score, f2_score, f2_rc_score,
               CASE WHEN GREATEST(f1_score, f1_rc_score) >= 50.0
                     AND GREATEST(f2_score, f2_rc_score) >= 50.0
                    THEN 1 ELSE 0 END AS pass_flag
        FROM f1 FULL OUTER JOIN f2 ON f1.user_id = f2.user_id
    """

    sql["argmax_probe_lineitem"] = """
        WITH per AS (
          SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                 CAST(l_suppkey AS VARCHAR) AS target_id,
                 CAST(SUM(l_quantity) AS BIGINT) AS total_score
          FROM lineitem GROUP BY 1, 2
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY total_score DESC, target_id ASC
          ) AS rn FROM per
        )
        SELECT doc_id, target_id, total_score FROM ranked WHERE rn = 1
    """

    sql["max_sum_lineitems"] = """
        WITH per AS (
          SELECT CAST(l_orderkey AS VARCHAR) AS doc_id,
                 CAST(l_suppkey AS VARCHAR) AS target_id,
                 CAST(SUM(l_quantity) AS BIGINT) AS total_score
          FROM lineitem GROUP BY 1, 2
        )
        SELECT doc_id, target_id, total_score
        FROM (SELECT *, MAX(total_score) OVER (PARTITION BY target_id)
                        AS max_total FROM per)
        WHERE total_score = max_total
    """

    sql["flank_intersection_customers"] = """
        WITH f1 AS (
          SELECT o_custkey AS doc_id, MAX(o_totalprice) AS f1_best
          FROM orders GROUP BY o_custkey
        ), f2 AS (
          SELECT c_custkey AS doc_id, MAX(c_acctbal) AS f2_best
          FROM customer GROUP BY c_custkey
        )
        SELECT f1.doc_id AS doc_id, f1_best, f2_best,
               f1_best + f2_best AS total
        FROM f1 JOIN f2 ON f1.doc_id = f2.doc_id
        WHERE f1_best >= 300000.0 AND f2_best >= 5000.0
    """

    sql["top_order_per_customer"] = """
        WITH ranked AS (
          SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER() OVER (
            PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC
          ) AS rn FROM orders
        )
        SELECT o_custkey, o_orderkey, o_totalprice FROM ranked WHERE rn = 1
    """

    sql["distinct_kgrams_per_source_exact"] = """
        WITH d AS (
          SELECT source, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT source, array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        )
        SELECT source, COUNT(DISTINCT g) AS n_distinct FROM g GROUP BY source
    """

    sql["token_freq_topk_exact"] = """
        SELECT word, COUNT(*) AS freq
        FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
        GROUP BY word ORDER BY freq DESC, word ASC LIMIT 20
    """

    # Count-Sketch relational twin: identical md5 bucket+sign derivation,
    # signed-counter table, per-seed sum of squares, exact rank-3 median.
    sql["countsketch_relational_f2"] = """
        WITH tok AS (
          SELECT source, unnest(string_split(text, ' ')) AS t
          FROM documents
        ), st AS (
          SELECT source, t, s
          FROM tok CROSS JOIN (SELECT unnest(range(5)) AS s)
        ), hx AS (
          SELECT source, s,
                 md5(CAST(s AS VARCHAR) || ':' || t) AS h
          FROM st
        ), sg AS (
          SELECT source, s,
                 CAST(('0x' || substr(h, 1, 8)) AS BIGINT) % 1024 AS b,
                 CAST(('0x' || substr(h, 9, 1)) AS BIGINT) % 2 * 2 - 1
                   AS sign
          FROM hx
        ), cnts AS (
          SELECT source, s, b, CAST(SUM(sign) AS BIGINT) AS cnt
          FROM sg GROUP BY 1, 2, 3
        ), ps AS (
          SELECT source, s, CAST(SUM(cnt * cnt) AS BIGINT) AS f2s
          FROM cnts GROUP BY 1, 2
        ), rk AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY f2s, s) AS rn
          FROM ps
        )
        SELECT source, f2s AS f2_est FROM rk WHERE rn = 3
    """

    sql["token_f2_per_source_exact"] = """
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types,
               CAST(SUM(c) AS BIGINT) AS n_tok,
               CAST(SUM(c * c) AS BIGINT) AS f2
        FROM (
          SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c
          FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                FROM documents)
          GROUP BY source, word
        ) GROUP BY source
    """

    sql["ntok_quantiles_per_source_exact"] = """
        SELECT source,
               ROUND(quantile_cont(n_tok, 0.25), 4) AS p25,
               ROUND(quantile_cont(n_tok, 0.5), 4) AS p50,
               ROUND(quantile_cont(n_tok, 0.75), 4) AS p75
        FROM (
          SELECT source, len(string_split(text, ' ')) AS n_tok FROM documents
        ) GROUP BY source
    """

    sql["events_hourly_agg"] = """
        SELECT time_bucket(INTERVAL '1 hour', ts) AS hour_start, event_type,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS sum_value
        FROM events GROUP BY 1, 2
    """

    sql["events_sessionize"] = """
        WITH flagged AS (
          SELECT user_id, ts, value,
                 CASE WHEN epoch_us(ts) - epoch_us(LAG(ts) OVER (
                          PARTITION BY user_id ORDER BY ts)) > 1800000000
                       OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                          IS NULL
                      THEN 1 ELSE 0 END AS new_session
          FROM events
        ), sid AS (
          -- CAST: DuckDB's windowed SUM returns HUGEINT, which pandas
          -- materializes as float64 — int64 1 vs float64 1.0 hash-diverges
          -- under the driver's canonicalizer (red row in r01+r02)
          SELECT *, CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS sum_value,
               MIN(ts) AS session_start
        FROM sid GROUP BY user_id, session_id
    """

    sql["lineitem_pricing_summary"] = """
        SELECT l_returnflag, l_linestatus,
               CAST(ROUND(SUM(CAST(l_quantity AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_qty,
               CAST(ROUND(SUM(CAST(l_extendedprice AS DECIMAL(18,6))), 2)
                    AS DOUBLE) AS sum_base_price,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE)
                 AS sum_disc_price,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE)
                     / COUNT(*), 4) AS avg_qty,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '2001-09-01'
        GROUP BY l_returnflag, l_linestatus
    """

    sql["salted_source_counts"] = """
        SELECT source, COUNT(*) AS n_docs,
               CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_tokens
        FROM documents GROUP BY source
    """

    sql["exact_dup_docs"] = """
        SELECT md5(text) AS fingerprint, COUNT(*) AS n_dups,
               CAST(MIN(doc_id) AS VARCHAR) AS canonical_id
        FROM documents GROUP BY md5(text) HAVING COUNT(*) > 1
    """

    sql["ngram_jaccard_pairs"] = """
        WITH d AS (
          SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), s AS (
          SELECT DISTINCT id, array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        ), capped AS (
          SELECT id, g FROM (
            SELECT id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM s
          ) WHERE df <= 100
        ), sz AS (
          SELECT id, COUNT(*) AS sz FROM capped GROUP BY id
        ), inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               ROUND(inter * 1.0 / (x.sz + y.sz - inter), 6) AS jaccard
        FROM inter JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
        WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
    """

    sql["dedup_group_assign"] = """
        WITH RECURSIVE d AS (
          SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), s AS (
          SELECT DISTINCT id, array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        ), capped AS (
          SELECT id, g FROM (
            SELECT id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM s
          ) WHERE df <= 100
        ), sz AS (
          SELECT id, COUNT(*) AS sz FROM capped GROUP BY id
        ), inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
          WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ), comp AS (
          SELECT u AS id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u
        ), csize AS (
          SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(COALESCE(c.comp, doc_id) AS VARCHAR) AS group_id,
               CAST(COALESCE(cs.n, 1) AS BIGINT) AS group_size,
               (c.comp IS NULL OR doc_id = c.comp) AS keep
        FROM documents
        LEFT JOIN comp c ON doc_id = c.id
        LEFT JOIN csize cs ON c.comp = cs.comp
    """

    # soft_dedup_weights: same recursive closure; weight arithmetic is
    # one double division chain per row (normalizer G is integer-exact
    # because each size-c group contributes c·(1/c) = 1 to Σ 1/cᵢ).
    sql["soft_dedup_weights"] = """
        WITH RECURSIVE d AS (
          SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), s AS (
          SELECT DISTINCT id, array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        ), capped AS (
          SELECT id, g FROM (
            SELECT id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM s
          ) WHERE df <= 100
        ), sz AS (
          SELECT id, COUNT(*) AS sz FROM capped GROUP BY id
        ), inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        ), pairs AS (
          SELECT id_a, id_b FROM inter
          JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
          WHERE inter * 1.0 / (x.sz + y.sz - inter) >= 0.5
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ), comp AS (
          SELECT u AS id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u
        ), csize AS (
          SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp
        ), base AS (
          SELECT doc_id,
                 COALESCE(cs.n, 1) AS commonness,
                 COALESCE(c.comp, doc_id) AS gid
          FROM documents
          LEFT JOIN comp c ON doc_id = c.id
          LEFT JOIN csize cs ON c.comp = cs.comp
        ), scal AS (
          SELECT COUNT(*) AS n, COUNT(DISTINCT gid) AS grp FROM base
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               CAST(commonness AS BIGINT) AS commonness,
               (CAST(n AS DOUBLE) / grp) / commonness AS weight
        FROM base, scal
    """

    sql["cascade_combined_scores"] = f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        {_sp_score_cte("h", MOI_HEAD)},
        surv AS (
          SELECT doc_id FROM score_h WHERE score >= {_SP_MST_K2}
        ),
        tok2 AS (
          SELECT tok.doc_id, t FROM tok JOIN surv USING (doc_id)
        ),
        {_sp_score_cte("t2", MOI_TAIL, "tok2")},
        f1 AS (
          SELECT doc_id,
                 MAX(CASE WHEN NOT rc THEN score END) AS f1_score,
                 MAX(CASE WHEN rc THEN score END) AS f1_rc_score
          FROM score_h GROUP BY doc_id
        ),
        f2 AS (
          SELECT doc_id,
                 MAX(CASE WHEN NOT rc THEN score END) AS f2_score,
                 MAX(CASE WHEN rc THEN score END) AS f2_rc_score
          FROM score_t2 GROUP BY doc_id
        )
        SELECT CAST(COALESCE(f1.doc_id, f2.doc_id) AS VARCHAR) AS doc_id,
               f1_score, f1_rc_score, f2_score, f2_rc_score,
               CAST({_SP_MST_K2} AS DOUBLE) AS threshold,
               CASE WHEN GREATEST(f1_score, f1_rc_score) >= {_SP_MST_K2}
                     AND GREATEST(f2_score, f2_rc_score) >= {_SP_MST_K2}
                    THEN 1 ELSE 0 END AS pass
        FROM f1 FULL OUTER JOIN f2 USING (doc_id)
    """

    sql["polyfamily_assign_docs"] = f"""
        WITH tok AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents
        ),
        {_sp_score_cte("h", MOI_HEAD)},
        {_sp_score_cte("t", MOI_TAIL)},
        {_sp_score_cte("b", "scan key row")},
        probes AS (
          SELECT h.doc_id, 'probeA' AS target_id,
                 h.score + t.score AS total_score
          FROM score_h h JOIN score_t t USING (doc_id)
          WHERE h.score >= {_SP_MST_K2} AND t.score >= {_SP_MST_K2}
          UNION ALL
          SELECT b.doc_id, 'probeB', b.score + t.score
          FROM score_b b JOIN score_t t USING (doc_id)
          WHERE b.score >= {_SP_MST_K2} AND t.score >= {_SP_MST_K2}
        ),
        ranked AS (
          SELECT p.*, d.source, ROW_NUMBER() OVER (
            PARTITION BY d.source, p.doc_id
            ORDER BY total_score DESC, target_id ASC) AS rn
          FROM probes p JOIN documents d USING (doc_id)
        )
        SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, target_id,
               CAST(total_score AS BIGINT) AS total_score
        FROM ranked WHERE rn = 1
    """

    sql["contamination_screen"] = """
        WITH d AS (
          SELECT doc_id, source, string_split(text, ' ') AS toks
          FROM documents WHERE len(string_split(text, ' ')) >= 3
        ), s AS (
          SELECT DISTINCT doc_id, source,
                 array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        ), te AS (
          SELECT DISTINCT g FROM s WHERE source = 'src0'
        )
        SELECT CAST(s.doc_id AS VARCHAR) AS doc_id,
               COUNT(*) AS n_shared_ngrams
        FROM s JOIN te USING (g)
        WHERE s.source <> 'src0'
        GROUP BY s.doc_id
    """

    # SemDeDup: identical sign-cell scoping + within-cell cosine pairs,
    # transitive closure via the same recursive-CTE pattern as
    # dedup_group_assign (group_id = component min = canonical).
    sql["semdedup_assign"] = """
        WITH RECURSIVE e AS (
          SELECT vec_id, embedding,
                 CAST(embedding[1] >= 0 AS INT)
               + 2 * CAST(embedding[2] >= 0 AS INT)
               + 4 * CAST(embedding[3] >= 0 AS INT) AS cell
          FROM embeddings
        ), pairs AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM e a JOIN e b ON a.cell = b.cell AND a.vec_id < b.vec_id
          WHERE list_cosine_similarity(
                  a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, g.v FROM reach r JOIN edges g ON r.v = g.u
        ), comp AS (
          SELECT u AS id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u
        ), csize AS (
          SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp
        )
        SELECT CAST(e.vec_id AS VARCHAR) AS vec_id,
               CAST(e.cell AS BIGINT) AS cell,
               CAST(COALESCE(c.comp, e.vec_id) AS VARCHAR) AS group_id,
               CAST(COALESCE(cs.n, 1) AS BIGINT) AS group_size,
               (c.comp IS NULL OR e.vec_id = c.comp) AS keep
        FROM e
        LEFT JOIN comp c ON e.vec_id = c.id
        LEFT JOIN csize cs ON c.comp = cs.comp
    """

    sql["embedding_near_dup_exact"] = """
        SELECT a.vec_id AS id_a, b.vec_id AS id_b
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(
                a.embedding::DOUBLE[], b.embedding::DOUBLE[]) >= 0.35
    """

    sql["ann_cosine_topk"] = """
        WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
        sims AS (
          SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
                 list_cosine_similarity(
                   q.embedding::DOUBLE[], e.embedding::DOUBLE[]) AS sim
          FROM q JOIN embeddings e ON q.vec_id <> e.vec_id
        ), ranked AS (
          SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC
          ) AS rn FROM sims
        )
        SELECT query_id, neighbor_id FROM ranked WHERE rn <= 10
    """

    sql["token_counts"] = r"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               len(string_split(text, ' ')) AS n_ws_tokens,
               len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))
                 AS n_re_tokens
        FROM documents
    """

    stop_in = ", ".join(f"'{w}'" for w in ["the", "a", "of", "and"])
    sql["quality_scores"] = f"""
        WITH base AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 len(string_split(text, ' ')) AS n_words,
                 length(text) AS n_chars,
                 len(list_filter(string_split(text, ' '),
                                 w -> w IN ({stop_in}))) AS stop,
                 length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
          FROM documents
        )
        SELECT doc_id, n_words,
               ROUND((n_chars - (n_words - 1)) * 1.0 / n_words, 4) AS mean_word_len,
               ROUND(stop * 1.0 / n_words, 4) AS stopword_ratio,
               ROUND(punct * 1.0 / GREATEST(n_chars, 1), 4) AS punct_ratio,
               ROUND(LEAST(n_words / 100.0, 1.0) * 0.5
                     + (stop * 1.0 / n_words) * 0.3
                     + (1 - punct * 1.0 / GREATEST(n_chars, 1)) * 0.2, 4)
                 AS quality
        FROM base
    """

    sql["lang_id"] = f"""
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, lang AS labeled_lang,
               CASE WHEN len(list_filter(string_split(text, ' '),
                                          w -> w IN ({stop_in}))) > 0
                    THEN 'en' ELSE 'other' END AS predicted_lang
        FROM documents
    """

    sql["bloom_semi_join_orders"] = """
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_orderkey IN (
          SELECT o_orderkey FROM orders WHERE o_totalprice > 450000
        )
    """

    sql["curate_training_docs"] = f"""
        WITH base AS (
          SELECT doc_id, CAST(doc_id AS VARCHAR) AS doc_id_s, text, source,
                 len(string_split(text, ' ')) AS n_words,
                 length(text) AS n_chars,
                 len(list_filter(string_split(text, ' '),
                                 w -> w IN ({stop_in}))) AS stop,
                 length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS punct
          FROM documents
        ), scored AS (
          SELECT doc_id, doc_id_s, text, source,
                 ROUND(LEAST(n_words / 100.0, 1.0) * 0.5
                       + (stop * 1.0 / n_words) * 0.3
                       + (1 - punct * 1.0 / GREATEST(n_chars, 1)) * 0.2, 4)
                   AS quality
          FROM base
        ), deduped AS (
          SELECT * FROM (
            SELECT *, MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical
            FROM scored WHERE quality >= 0.5
          ) WHERE doc_id = canonical
        ), sampled AS (
          SELECT doc_id_s AS doc_id, source, quality,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY md5(doc_id_s), doc_id) AS rn
          FROM deduped
        )
        SELECT doc_id, source, quality FROM sampled WHERE rn <= 10
    """

    sql["doc_fingerprint_md5"] = """
        SELECT CAST(doc_id AS VARCHAR) AS doc_id,
               md5(lower(trim(text))) AS fingerprint
        FROM documents
    """

    # Winnowing (Schleimer et al. 2003) with SQL-portable hashes: k-gram
    # hash = first 16 hex chars of md5 (identical in Spark and DuckDB),
    # window=8 minima, distinct+sorted. Mirrors fingerprint_winnow_sql
    # expression-for-expression; slices are 1-based inclusive in both
    # engines (ws[i+1:i+4] == F.slice(words, i+1, 4)).
    sql["doc_fingerprint_winnow"] = """
        WITH w AS (
          SELECT CAST(doc_id AS VARCHAR) AS doc_id,
                 string_split(text, ' ') AS ws
          FROM documents
          WHERE len(string_split(text, ' ')) >= 4
        ), kg AS (
          SELECT doc_id,
                 list_transform(range(0, len(ws) - 3),
                   i -> substring(md5(array_to_string(ws[i + 1 : i + 4], ' ')),
                                  1, 16)) AS kh
          FROM w
        ), wins AS (
          SELECT doc_id,
                 CASE WHEN len(kh) >= 8 THEN
                   list_transform(range(0, len(kh) - 7),
                     j -> list_min(kh[j + 1 : j + 8]))
                 ELSE [list_min(kh)] END AS mins
          FROM kg
        ), fp AS (
          SELECT doc_id, list_sort(list_distinct(mins)) AS fps FROM wins
        )
        SELECT doc_id,
               array_to_string(fps, '|') AS fingerprints,
               CAST(len(fps) AS INT) AS n_fingerprints,
               fps[1] AS min_fp
        FROM fp
    """

    # Relational CMS: DuckDB rebuilds the IDENTICAL d=4 × w=4096 sketch
    # (same md5 buckets) and reproduces every estimate including collision
    # inflation — the oracle shares the sketch.
    sql["cms_relational_topk"] = """
        WITH w AS (
          SELECT string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT array_to_string(ws[i + 1 : i + 3], ' ') AS gram
          FROM w, unnest(range(0, len(ws) - 2)) AS u(i)
        ), st AS (
          SELECT gram, s FROM g, unnest([0, 1, 2, 3]) AS t(s)
        ), counts AS (
          SELECT s,
                 ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || gram),
                                    1, 8))::BIGINT % 4096 AS b,
                 COUNT(*) AS cnt
          FROM st GROUP BY 1, 2
        ), keys AS (
          SELECT gram FROM (
            SELECT gram, COUNT(*) AS f FROM g GROUP BY 1
            ORDER BY f DESC, gram ASC LIMIT 20)
        ), probe AS (
          SELECT k.gram, t.s,
                 ('0x' || substring(md5(CAST(t.s AS VARCHAR) || ':' || k.gram),
                                    1, 8))::BIGINT % 4096 AS b
          FROM keys k, unnest([0, 1, 2, 3]) AS t(s)
        )
        SELECT p.gram, CAST(MIN(c.cnt) AS BIGINT) AS est_freq
        FROM probe p JOIN counts c ON p.s = c.s AND p.b = c.b
        GROUP BY p.gram
    """

    # Relational KMV/theta: k=256 smallest distinct 63-bit md5 hashes per
    # source, theta = k-th smallest of the union, set ops below theta.
    # Integer theta + raw counts pin the hash match; floats are the
    # identical IEEE arithmetic in both engines.
    sql["kmv_relational_setops"] = """
        WITH w AS (
          SELECT source, string_split(text, ' ') AS ws FROM documents
          WHERE source IN ('src0', 'src1')
            AND len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT DISTINCT source,
                 ('0x' || translate(substring(md5(gram), 1, 1),
                                    '89abcdef', '01234567')
                   || substring(md5(gram), 2, 15))::BIGINT AS hv
          FROM (SELECT source, array_to_string(ws[i + 1 : i + 3], ' ') AS gram
                FROM w, unnest(range(0, len(ws) - 2)) AS u(i))
        ), km AS (
          SELECT source, hv FROM (
            SELECT source, hv,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM g) WHERE rn <= 256
        ), uk AS (
          SELECT hv FROM (SELECT DISTINCT hv FROM km ORDER BY hv LIMIT 256)
        ), th AS (SELECT MAX(hv) AS theta FROM uk),
        tagged AS (
          SELECT u.hv,
                 CASE WHEN a.hv IS NULL THEN 0 ELSE 1 END AS in_a,
                 CASE WHEN b.hv IS NULL THEN 0 ELSE 1 END AS in_b
          FROM uk u
          LEFT JOIN (SELECT hv FROM km WHERE source = 'src0') a
            ON u.hv = a.hv
          LEFT JOIN (SELECT hv FROM km WHERE source = 'src1') b
            ON u.hv = b.hv
        )
        SELECT CAST(theta AS BIGINT) AS theta,
               CAST(SUM(in_a * in_b) AS BIGINT) AS raw_intersect,
               CAST(SUM(in_a * (1 - in_b)) AS BIGINT) AS raw_a_not_b,
               ROUND(CASE WHEN COUNT(*) >= 256
                     THEN 255 / (theta / 9223372036854775808.0)
                     ELSE CAST(COUNT(*) AS DOUBLE) END, 2) AS n_union,
               ROUND(CASE WHEN COUNT(*) >= 256
                     THEN SUM(in_a * in_b)
                          / (theta / 9223372036854775808.0)
                     ELSE CAST(SUM(in_a * in_b) AS DOUBLE) END, 2)
                 AS n_intersect,
               ROUND(CASE WHEN COUNT(*) >= 256
                     THEN SUM(in_a * (1 - in_b))
                          / (theta / 9223372036854775808.0)
                     ELSE CAST(SUM(in_a * (1 - in_b)) AS DOUBLE) END, 2)
                 AS n_a_not_b
        FROM tagged, th GROUP BY theta
    """

    # Relational Bloom: DuckDB rebuilds the IDENTICAL m=16384 k=3 bit
    # array from src0's distinct 3-grams (bit = md5(s:gram)[0:8] mod m,
    # per-seed independent hashing) and reproduces every per-source
    # membership count INCLUDING false positives — the oracle literally
    # shares the bloom.
    sql["bloom_relational_screen"] = """
        WITH w AS (
          SELECT source, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT DISTINCT source,
                 array_to_string(ws[i + 1 : i + 3], ' ') AS gram
          FROM w, unnest(range(0, len(ws) - 2)) AS u(i)
        ), target AS (
          SELECT DISTINCT gram FROM g WHERE source = 'src0'
        ), bits AS (
          SELECT DISTINCT
                 ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || gram),
                                    1, 8))::BIGINT % 16384 AS b
          FROM target, unnest([0, 1, 2]) AS t(s)
        ), nb AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS bits_set FROM bits
        ), pg AS (
          SELECT DISTINCT gram FROM g WHERE source <> 'src0'
        ), probe AS (
          SELECT gram,
                 ('0x' || substring(md5(CAST(s AS VARCHAR) || ':' || gram),
                                    1, 8))::BIGINT % 16384 AS b
          FROM pg, unnest([0, 1, 2]) AS t(s)
        ), member AS (
          SELECT p.gram,
                 SUM(CASE WHEN bits.b IS NULL THEN 0 ELSE 1 END) = 3
                   AS might_contain
          FROM probe p LEFT JOIN bits ON p.b = bits.b
          GROUP BY p.gram
        ), tagged AS (
          SELECT gp.source,
                 CASE WHEN m.might_contain THEN 1 ELSE 0 END AS pass,
                 CASE WHEN t.gram IS NULL THEN 0 ELSE 1 END AS istrue
          FROM (SELECT source, gram FROM g WHERE source <> 'src0') gp
          JOIN member m ON gp.gram = m.gram
          LEFT JOIN target t ON gp.gram = t.gram
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_grams,
               CAST(SUM(pass) AS BIGINT) AS n_pass,
               CAST(SUM(istrue) AS BIGINT) AS n_true,
               CAST(SUM(pass) - SUM(istrue) AS BIGINT) AS n_false_pos,
               bits_set
        FROM tagged, nb
        GROUP BY source, bits_set
    """

    # Relational sample-quantile sketch: bottom-k=256 rows by md5(doc_id)
    # per source, quantile = value at rank 1 + floor((n-1)q) under
    # (value, hash) order. All selected values are exact integers; the
    # 0.25/0.5/0.75 multipliers are binary-exact so floor() agrees
    # across engines.
    sql["sample_quantiles_relational"] = """
        WITH d AS (
          SELECT source,
                 len(string_split(text, ' ')) AS n_tok,
                 ('0x' || translate(substring(md5(CAST(doc_id AS VARCHAR)),
                                              1, 1),
                                    '89abcdef', '01234567')
                   || substring(md5(CAST(doc_id AS VARCHAR)), 2, 15))::BIGINT
                   AS hv
          FROM documents
        ), samp AS (
          SELECT source, n_tok, hv FROM (
            SELECT source, n_tok, hv,
                   ROW_NUMBER() OVER (PARTITION BY source ORDER BY hv) AS rn
            FROM d) WHERE rn <= 256
        ), ranked AS (
          SELECT source, n_tok,
                 ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY n_tok, hv) AS rnk,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM samp
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS k_used,
               CAST(MAX(CASE WHEN rnk = 1 + FLOOR((n - 1) * 0.25)
                        THEN n_tok END) AS BIGINT) AS p25,
               CAST(MAX(CASE WHEN rnk = 1 + FLOOR((n - 1) * 0.5)
                        THEN n_tok END) AS BIGINT) AS p50,
               CAST(MAX(CASE WHEN rnk = 1 + FLOOR((n - 1) * 0.75)
                        THEN n_tok END) AS BIGINT) AS p75
        FROM ranked GROUP BY source
    """

    # Sequence packing: cumulative token offsets per source (numeric
    # doc_id order), chunk every 512 tokens, per-chunk doc/token/split
    # counts. Pure integer arithmetic except floor(x / 512.0), which is
    # exact in IEEE for these magnitudes.
    sql["pack_context_windows"] = """
        WITH d AS (
          SELECT source, doc_id,
                 len(string_split(text, ' ')) AS n
          FROM documents
          WHERE len(string_split(text, ' ')) > 0
        ), spans AS (
          SELECT source,
                 SUM(n) OVER (PARTITION BY source ORDER BY doc_id) - n AS s,
                 SUM(n) OVER (PARTITION BY source ORDER BY doc_id) AS e
          FROM d
        ), per AS (
          SELECT source, s, e,
                 CAST(FLOOR(s / 512.0) AS BIGINT) AS c0,
                 chunk_id
          FROM spans,
               unnest(range(CAST(FLOOR(s / 512.0) AS BIGINT),
                            CAST(FLOOR((e - 1) / 512.0) AS BIGINT) + 1))
                 AS u(chunk_id)
        )
        SELECT source,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEAST(e, (chunk_id + 1) * 512)
                        - GREATEST(s, chunk_id * 512)) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN chunk_id > c0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_split_docs
        FROM per GROUP BY source, chunk_id
    """

    # Sharded packing: same cumsum-and-cut algebra per (source, shard)
    # stream, shard = md5(doc_id)[0:8] mod 8.
    sql["pack_sharded_chunks"] = """
        WITH d AS (
          SELECT source, doc_id,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 8 AS shard,
                 len(string_split(text, ' ')) AS n
          FROM documents
          WHERE len(string_split(text, ' ')) > 0
        ), spans AS (
          SELECT source, shard,
                 SUM(n) OVER (PARTITION BY source, shard ORDER BY doc_id)
                   - n AS s,
                 SUM(n) OVER (PARTITION BY source, shard ORDER BY doc_id)
                   AS e
          FROM d
        ), per AS (
          SELECT source, shard, s, e,
                 CAST(FLOOR(s / 512.0) AS BIGINT) AS c0,
                 chunk_id
          FROM spans,
               unnest(range(CAST(FLOOR(s / 512.0) AS BIGINT),
                            CAST(FLOOR((e - 1) / 512.0) AS BIGINT) + 1))
                 AS u(chunk_id)
        )
        SELECT source, shard,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEAST(e, (chunk_id + 1) * 512)
                        - GREATEST(s, chunk_id * 512)) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN chunk_id > c0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_split_docs
        FROM per GROUP BY source, shard, chunk_id
    """

    # Deterministic hash split: bucket = md5(doc_id)[0:8] mod 100,
    # train < 98 <= val < 99 <= test.
    sql["hash_split_assign"] = """
        SELECT source,
               CASE WHEN b < 98 THEN 'train'
                    WHEN b < 99 THEN 'val'
                    ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM (
          SELECT source, n_chars,
                 ('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 8))
                   ::BIGINT % 100 AS b
          FROM documents
        ) GROUP BY 1, 2
    """

    # Vocabulary coverage: rank vocab by (count DESC, token), ordered
    # cumulative occurrence sum, fan out the k cutoffs, one integer
    # division at the end.
    sql["vocab_coverage_curve"] = """
        WITH tok AS (
          SELECT t FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
          ) WHERE t <> ''
        ), freq AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t
        ), ranked AS (
          SELECT c,
                 ROW_NUMBER() OVER (ORDER BY c DESC, t) AS r,
                 SUM(c) OVER (ORDER BY c DESC, t
                              ROWS UNBOUNDED PRECEDING) AS cum,
                 SUM(c) OVER () AS total
          FROM freq
        )
        SELECT k,
               CAST(MAX(r) AS BIGINT) AS vocab_size,
               CAST(MAX(cum) AS BIGINT) AS covered,
               CAST(MAX(total) AS BIGINT) AS total,
               CAST(MAX(cum) AS DOUBLE) / CAST(MAX(total) AS DOUBLE)
                 AS coverage
        FROM ranked, unnest([100, 1000, 10000]) AS u(k)
        WHERE r <= k GROUP BY k
    """

    # Stratified sample: md5 hex strings order identically in both
    # engines (lowercase hex, binary collation); doc_id string-cast
    # tie-break.
    sql["stratified_sample_docs"] = """
        SELECT source, CAST(doc_id AS BIGINT) AS doc_id,
               CAST(sample_rank AS BIGINT) AS sample_rank
        FROM (
          SELECT source, doc_id,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)),
                            CAST(doc_id AS VARCHAR)) AS sample_rank
          FROM documents
        ) WHERE sample_rank <= 5
    """

    # Duplicated-span coverage: identical md5-keyed window counting,
    # gaps-and-islands merge, integer cross-multiplied half-dup test.
    sql["dup_span_coverage_per_source"] = f"""
        WITH w AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), b AS (
          SELECT source, doc_id, CAST(len(w) AS BIGINT) AS n_tok, w FROM w
        ), g AS (
          SELECT doc_id, CAST(s AS BIGINT) AS s,
                 md5(array_to_string(list_slice(w, CAST(s + 1 AS INT),
                     CAST(s + {DUP_SPAN_K} AS INT)), ' ')) AS h
          FROM b, UNNEST(range(n_tok - {DUP_SPAN_K} + 1)) t(s)
          WHERE n_tok >= {DUP_SPAN_K}
        ), c AS (SELECT h, COUNT(*) AS c FROM g GROUP BY h),
        d AS (SELECT g.* FROM g JOIN c USING (h) WHERE c.c > 1),
        i AS (
          SELECT *, CASE WHEN s > COALESCE(max(s + {DUP_SPAN_K}) OVER (
                   PARTITION BY doc_id ORDER BY s
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                 THEN 1 ELSE 0 END AS ni
          FROM d
        ), j AS (
          SELECT *, SUM(ni) OVER (
                   PARTITION BY doc_id ORDER BY s) AS isl FROM i
        ), isl AS (
          SELECT doc_id, isl, max(s + {DUP_SPAN_K}) - min(s) AS cov
          FROM j GROUP BY doc_id, isl
        ), pd AS (
          SELECT doc_id, CAST(SUM(cov) AS BIGINT) AS dup
          FROM isl GROUP BY doc_id
        ), fd AS (
          SELECT b.source, b.doc_id, b.n_tok,
                 COALESCE(pd.dup, 0) AS dup_tok
          FROM b LEFT JOIN pd USING (doc_id)
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(n_tok) AS BIGINT) AS n_tok,
               CAST(SUM(dup_tok) AS BIGINT) AS dup_tok,
               ROUND(SUM(dup_tok) / SUM(n_tok), 6) AS dup_frac,
               CAST(SUM(CASE WHEN dup_tok * 2 >= n_tok AND dup_tok > 0
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_half_dup,
               CAST(SUM(CASE WHEN dup_tok > 0 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_docs_any_dup
        FROM fd GROUP BY source
    """

    # BM25: same integer tf/df/dl/N, same float expression order, final
    # round(.,6) before the rank — identical result sets by construction.
    _bm25_terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    sql["bm25_topk_per_source"] = f"""
        WITH b2 AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), b3 AS (
          SELECT source, doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM b2
        ), st AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                 CAST(SUM(dl) AS BIGINT) AS sum_dl
          FROM b3
        ), tok AS (
          SELECT source, doc_id, dl, t FROM (
            SELECT source, doc_id, dl, unnest(w) AS t FROM b3
          ) WHERE t IN ({_bm25_terms})
        ), tf AS (
          SELECT source, doc_id, dl, t, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY 1, 2, 3, 4
        ), dft AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t
        ), sc AS (
          SELECT source, doc_id,
                 ROUND(SUM(
                   ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
                   * (tf * (1.2 + 1.0))
                   / (tf + 1.2 * (1.0 - 0.75
                        + 0.75 * dl / (sum_dl / n_docs)))
                 ), 6) AS score
          FROM tf JOIN dft USING (t) CROSS JOIN st
          GROUP BY 1, 2
        ), rk AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS rank
          FROM sc
        )
        SELECT source, CAST(doc_id AS BIGINT) AS doc_id, score,
               CAST(rank AS BIGINT) AS rank
        FROM rk WHERE rank <= 5
    """

    # lnc.ltc cosine: same relations in the same expression order —
    # full-vocab per-doc norms, query-term tf joined to norms, idf and
    # query norm as scalar subqueries, round(.,6) before the rank
    sql["tfidf_cosine_topk_per_source"] = f"""
        WITH b2 AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), tfa AS MATERIALIZED (
          SELECT source, doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
          FROM (SELECT source, doc_id, unnest(w) AS t FROM b2)
          GROUP BY 1, 2, 3
        ), nrm AS (
          SELECT source, doc_id,
                 sqrt(SUM((1.0 + ln(tf)) * (1.0 + ln(tf)))) AS dnorm
          FROM tfa GROUP BY 1, 2
        ), st AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM b2
        ), tfq AS (
          SELECT * FROM tfa WHERE t IN ({_bm25_terms})
        ), idf AS MATERIALIZED (
          SELECT t, ln(CAST((SELECT n_docs FROM st) AS DOUBLE) / df) AS idf
          FROM (SELECT t, CAST(COUNT(*) AS BIGINT) AS df
                FROM tfq GROUP BY t)
        ), qn AS (
          SELECT sqrt(SUM(idf * idf)) AS qnorm FROM idf
        ), sc AS (
          SELECT tfq.source, tfq.doc_id,
                 ROUND(SUM(
                   (1.0 + ln(tfq.tf)) / nrm.dnorm
                   * idf.idf / (SELECT qnorm FROM qn)
                 ), 6) AS score
          FROM tfq JOIN idf USING (t)
          JOIN nrm ON nrm.source = tfq.source AND nrm.doc_id = tfq.doc_id
          GROUP BY 1, 2
        ), rk AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS rank
          FROM sc
        )
        SELECT source, CAST(doc_id AS BIGINT) AS doc_id, score,
               CAST(rank AS BIGINT) AS rank
        FROM rk WHERE rank <= 5
    """

    # Dirichlet query likelihood: same decomposition as the engine
    # (matched Σ ln(1 + tf·|C|/(μ·ctf)) + broadcast Σ ln(μ·ctf/|C|)
    # − |q|·ln(dl+μ)), same expression order, round(.,6) before rank.
    # All driver query terms are distinct so qtf = 1 throughout; the
    # planted absent term drops out of ctf in both engines.
    _ql_terms = ", ".join(
        f"'{t}'" for t in BM25_QUERY + ["zzqxnosuchterm"]
    )
    sql["ql_dirichlet_topk_per_source"] = f"""
        WITH b2 AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), b3 AS (
          SELECT source, doc_id, CAST(len(w) AS BIGINT) AS dl, w FROM b2
        ), st AS (
          SELECT CAST(SUM(dl) AS BIGINT) AS c_len FROM b3
        ), tok AS (
          SELECT source, doc_id, t FROM (
            SELECT source, doc_id, unnest(w) AS t FROM b3
          ) WHERE t IN ({_ql_terms})
        ), tf AS (
          SELECT source, doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
          FROM tok GROUP BY 1, 2, 3
        ), ctf AS (
          SELECT t, CAST(SUM(tf) AS BIGINT) AS ctf FROM tf GROUP BY t
        ), m AS (
          SELECT source, doc_id,
                 SUM(CAST(1 AS DOUBLE)
                     * ln(1.0 + tf * c_len / (300.0 * ctf))) AS m
          FROM tf JOIN ctf USING (t) CROSS JOIN st
          GROUP BY 1, 2
        ), cq AS (
          SELECT SUM(CAST(1 AS DOUBLE)
                     * ln(300.0 * ctf / c_len)) AS c_q,
                 CAST(SUM(1) AS BIGINT) AS q_len
          FROM ctf CROSS JOIN st
        ), sc AS (
          SELECT b3.source, b3.doc_id,
                 ROUND(COALESCE(m.m, 0.0) + COALESCE(cq.c_q, 0.0)
                       + COALESCE(-cq.q_len, 0.0)
                         * ln(b3.dl + 300.0), 6) AS score
          FROM b3 LEFT JOIN m USING (source, doc_id) CROSS JOIN cq
        ), rk AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY score DESC, CAST(doc_id AS VARCHAR)) AS rank
          FROM sc
        )
        SELECT source, CAST(doc_id AS BIGINT) AS doc_id, score,
               CAST(rank AS BIGINT) AS rank
        FROM rk WHERE rank <= 5
    """

    # Zipf fit: identical rank order (freq desc, token asc), ln of the
    # same integers, closed-form OLS.
    sql["zipf_fit_per_source"] = """
        WITH tok AS (
          SELECT source, t FROM (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        ), freq AS (
          SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ), rk AS (
          SELECT source, c, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY c DESC, t ASC) AS r
          FROM freq
        ), xy AS (
          SELECT source, ln(CAST(r AS DOUBLE)) AS x,
                 ln(CAST(c AS DOUBLE)) AS y
          FROM rk WHERE r <= 1000
        ), ag AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_types_fit,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM xy GROUP BY source
        )
        SELECT source, n_types_fit,
               (n_types_fit * sxy - sx * sy)
                 / NULLIF(n_types_fit * sxx - sx * sx, 0) AS slope,
               (sy - (n_types_fit * sxy - sx * sy)
                 / NULLIF(n_types_fit * sxx - sx * sx, 0) * sx)
                 / n_types_fit AS intercept
        FROM ag
    """

    # Heaps fit: same cumulative curve (window sums over doc_id order),
    # ln of the same integers, same closed-form OLS shape as Zipf.
    sql["heaps_fit_per_source"] = """
        WITH tok AS (
          SELECT source, doc_id, t FROM (
            SELECT source, doc_id,
                   unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        ), per_doc AS (
          SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok
          FROM tok GROUP BY 1, 2
        ), first_ AS (
          SELECT source, t, MIN(doc_id) AS doc_id
          FROM tok GROUP BY 1, 2
        ), newt AS (
          SELECT source, doc_id, CAST(COUNT(*) AS BIGINT) AS n_new
          FROM first_ GROUP BY 1, 2
        ), cum AS (
          SELECT p.source,
                 SUM(p.n_tok) OVER (PARTITION BY p.source
                   ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cn,
                 SUM(COALESCE(n.n_new, 0)) OVER (PARTITION BY p.source
                   ORDER BY p.doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cv
          FROM per_doc p LEFT JOIN newt n USING (source, doc_id)
        ), xy AS (
          SELECT source, ln(CAST(cn AS DOUBLE)) AS x,
                 ln(CAST(cv AS DOUBLE)) AS y
          FROM cum WHERE cn > 0 AND cv > 0
        ), ag AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_fit,
                 SUM(x) AS sx, SUM(y) AS sy,
                 SUM(x * y) AS sxy, SUM(x * x) AS sxx
          FROM xy GROUP BY source
        )
        SELECT source, n_docs_fit,
               (n_docs_fit * sxy - sx * sy)
                 / NULLIF(n_docs_fit * sxx - sx * sx, 0) AS beta,
               (sy - (n_docs_fit * sxy - sx * sy)
                 / NULLIF(n_docs_fit * sxx - sx * sx, 0) * sx)
                 / n_docs_fit AS ln_k
        FROM ag
    """

    # JSD: shared-type self-join + closed-form disjoint remainder; the
    # probability divides are the same integer pairs in both engines.
    sql["source_jsd_pairs"] = """
        WITH tok AS (
          SELECT source, t FROM (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        ), freq AS (
          SELECT source, t, CAST(COUNT(*) AS BIGINT) AS c
          FROM tok GROUP BY 1, 2
        ), tot AS (
          SELECT source, CAST(SUM(c) AS BIGINT) AS tot
          FROM freq GROUP BY source
        ), p AS (
          SELECT source, t, c / CAST(tot AS DOUBLE) AS p
          FROM freq JOIN tot USING (source)
        ), j AS (
          SELECT a.source AS source_a, b.source AS source_b,
                 a.p AS pa, b.p AS pb
          FROM p a JOIN p b ON a.t = b.t AND a.source < b.source
        )
        SELECT source_a, source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared_types,
               SUM(0.5 * pa * ln(2 * pa / (pa + pb))
                 + 0.5 * pb * ln(2 * pb / (pa + pb)))
                 + 0.5 * ln(2) * (2 - SUM(pa) - SUM(pb)) AS jsd
        FROM j GROUP BY 1, 2
    """

    # Bigram LM: identical add-0.5 smoothing, context counts from the
    # bigram relation, vocab-size scalar; ln noise ~1e-11 under 1e-6.
    sql["bigram_ppl_per_source"] = """
        WITH w AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), big AS (
          SELECT source, doc_id,
                 w[CAST(s + 1 AS INT)] AS w1, w[CAST(s + 2 AS INT)] AS w2
          FROM w, UNNEST(range(len(w) - 1)) t(s) WHERE len(w) >= 2
        ), bf AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
          FROM big GROUP BY 1, 2
        ), ctx AS (
          SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM bf GROUP BY 1
        ), v AS (
          SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
          FROM (SELECT unnest(w) AS t FROM w)
        ), lm AS (
          SELECT w1, w2,
                 ln(cb + 0.5) - ln(cw + 0.5 * (SELECT v FROM v)) AS lp
          FROM bf JOIN ctx USING (w1)
        ), pd AS (
          SELECT source, doc_id, -AVG(lp) AS nll
          FROM big JOIN lm USING (w1, w2) GROUP BY 1, 2
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(nll) AS mean_doc_nll, exp(AVG(nll)) AS ppl
        FROM pd GROUP BY source
    """

    # CCNet terciles: the add-k per-doc NLL CTE, then a per-source
    # (round(nll,6), doc_id) rank cut with INTEGER division — the cut
    # index is engine-exact, so only AVG association noise remains.
    sql["ccnet_ppl_buckets"] = """
        WITH w AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), big AS (
          SELECT source, doc_id,
                 w[CAST(s + 1 AS INT)] AS w1, w[CAST(s + 2 AS INT)] AS w2
          FROM w, UNNEST(range(len(w) - 1)) t(s) WHERE len(w) >= 2
        ), bf AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
          FROM big GROUP BY 1, 2
        ), ctx AS (
          SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw FROM bf GROUP BY 1
        ), v AS (
          SELECT CAST(COUNT(DISTINCT t) AS BIGINT) AS v
          FROM (SELECT unnest(w) AS t FROM w)
        ), lm AS (
          SELECT w1, w2,
                 ln(cb + 0.5) - ln(cw + 0.5 * (SELECT v FROM v)) AS lp
          FROM bf JOIN ctx USING (w1)
        ), pd AS (
          SELECT source, doc_id, -AVG(lp) AS nll
          FROM big JOIN lm USING (w1, w2) GROUP BY 1, 2
        ), ranked AS (
          SELECT source, nll,
                 ROW_NUMBER() OVER (
                   PARTITION BY source
                   ORDER BY round(nll, 6) ASC, doc_id ASC) AS rn,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM pd
        ), b AS (
          SELECT source, nll,
                 CASE (3 * (rn - 1)) // n
                   WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail'
                 END AS bucket
          FROM ranked
        )
        SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(nll) AS mean_doc_nll, exp(AVG(nll)) AS ppl
        FROM b GROUP BY source, bucket
    """

    # Kneser–Ney: same bigram relation; ctx carries (cw, nf), cont (nb),
    # bt is the bigram-type scalar. Term order in the ln() argument
    # matches the Spark expression left-to-right so per-type floats are
    # bit-comparable; AVG association noise ~1e-12 under the 1e-6 canon.
    sql["kn_ppl_per_source"] = """
        WITH w AS (
          SELECT source, doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), big AS (
          SELECT source, doc_id,
                 w[CAST(s + 1 AS INT)] AS w1, w[CAST(s + 2 AS INT)] AS w2
          FROM w, UNNEST(range(len(w) - 1)) t(s) WHERE len(w) >= 2
        ), bf AS (
          SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb
          FROM big GROUP BY 1, 2
        ), ctx AS (
          SELECT w1, CAST(SUM(cb) AS BIGINT) AS cw,
                 CAST(COUNT(*) AS BIGINT) AS nf
          FROM bf GROUP BY 1
        ), cont AS (
          SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM bf GROUP BY 1
        ), bts AS (SELECT CAST(COUNT(*) AS BIGINT) AS bt FROM bf),
        lm AS (
          SELECT w1, w2,
                 ln((cb - 0.75) / cw
                    + 0.75 * nf / cw * nb / (SELECT bt FROM bts)) AS lp
          FROM bf JOIN ctx USING (w1) JOIN cont USING (w2)
        ), pd AS (
          SELECT source, doc_id, -AVG(lp) AS nll
          FROM big JOIN lm USING (w1, w2) GROUP BY 1, 2
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(nll) AS mean_doc_nll, exp(AVG(nll)) AS ppl
        FROM pd GROUP BY source
    """

    # DSIR: identical 32-bit-md5 bigram buckets, add-one smoothed ln of
    # integer counts, rank by round(log_iw,6) + doc_id tie-break;
    # per-doc float sum noise ~1e-13 under the 1e-6 canon.
    sql["dsir_importance_per_source"] = """
        WITH w AS (
          SELECT source, doc_id, lang,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), f AS (
          SELECT doc_id,
                 CAST(('0x' || substr(md5(w[CAST(s+1 AS INT)] || ' ' ||
                       w[CAST(s+2 AS INT)]), 1, 8)) AS BIGINT) % 256 AS b
          FROM w, UNNEST(range(len(w) - 1)) t(s) WHERE len(w) >= 2
        ), fc AS (
          SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS c
          FROM f GROUP BY 1, 2
        ), tgt AS (SELECT doc_id, lang = 'en' AS t FROM w),
        pb AS (
          SELECT b, SUM(c) AS r_b,
                 SUM(CASE WHEN t THEN c ELSE 0 END) AS t_b
          FROM fc JOIN tgt USING (doc_id) GROUP BY b
        ), tot AS (SELECT SUM(r_b) AS r_tot, SUM(t_b) AS t_tot FROM pb),
        diff AS (
          SELECT b,
                 (ln(t_b + 1.0) - ln((SELECT t_tot FROM tot) + 256.0))
               - (ln(r_b + 1.0) - ln((SELECT r_tot FROM tot) + 256.0))
                 AS diff
          FROM pb
        ), pd AS (
          SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_feat,
                 SUM(c * diff) AS log_iw
          FROM fc JOIN diff USING (b) GROUP BY doc_id
        ), sc AS (
          SELECT a.source, a.doc_id,
                 COALESCE(log_iw, 0.0) AS log_iw
          FROM (SELECT source, doc_id FROM w) a LEFT JOIN pd USING (doc_id)
        ), rk AS (
          SELECT *, ROW_NUMBER() OVER (
                   ORDER BY round(log_iw, 6) DESC,
                            CAST(doc_id AS VARCHAR)) AS rn
          FROM sc
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(log_iw) AS mean_log_iw,
               CAST(SUM(CASE WHEN log_iw > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_pos,
               CAST(SUM(CASE WHEN rn <= (SELECT COUNT(*) // 4 FROM sc)
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_selected
        FROM rk GROUP BY source
    """

    # Unigram NLL: ln over integer type-counts, per-doc AVG, per-source
    # AVG — float association noise ~1e-11, far under the 1e-6 canon.
    sql["unigram_ppl_per_source"] = """
        WITH tok AS (
          SELECT source, doc_id, t FROM (
            SELECT source, doc_id,
                   unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        ), freq AS (
          SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t
        ), tot AS (
          SELECT CAST(SUM(c) AS BIGINT) AS n_total FROM freq
        ), per_doc AS (
          SELECT source, doc_id,
                 ln((SELECT n_total FROM tot)) - AVG(ln(c)) AS nll
          FROM tok JOIN freq USING (t)
          GROUP BY source, doc_id
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               AVG(nll) AS mean_doc_nll,
               exp(AVG(nll)) AS ppl
        FROM per_doc GROUP BY source
    """

    # Gopher rule pack: identical integer cross-multiplication rules;
    # '...' occurrences counted by non-overlapping replace in both
    # engines, integer-division by 3.
    sql["gopher_quality_per_source"] = """
        WITH f AS (
          SELECT source,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w,
                 length(text) - length(replace(text, '#', '')) AS hashes,
                 (length(text) - length(replace(text, '...', ''))) // 3
                   AS ells
          FROM documents
        ), g AS (
          SELECT source,
                 CAST(len(w) AS BIGINT) AS nw,
                 CAST(COALESCE(list_sum(
                   list_transform(w, x -> length(x))), 0) AS BIGINT)
                   AS chars,
                 CAST(len(list_filter(w,
                   x -> regexp_matches(x, '[A-Za-z]'))) AS BIGINT) AS alpha,
                 CAST(len(list_intersect(list_distinct(w),
                   ['the','be','to','of','and','that','have','with']))
                   AS BIGINT) AS stopw,
                 CAST(hashes + ells AS BIGINT) AS sym
          FROM f
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(CASE WHEN nw BETWEEN 50 AND 100000
                        THEN 0 ELSE 1 END) AS BIGINT) AS fail_word_count,
               CAST(SUM(CASE WHEN chars >= 3 * nw AND chars <= 10 * nw
                        THEN 0 ELSE 1 END) AS BIGINT)
                 AS fail_mean_word_len,
               CAST(SUM(CASE WHEN sym * 10 <= nw THEN 0 ELSE 1 END)
                 AS BIGINT) AS fail_symbol_ratio,
               CAST(SUM(CASE WHEN alpha * 5 >= nw * 4 THEN 0 ELSE 1 END)
                 AS BIGINT) AS fail_alpha_words,
               CAST(SUM(CASE WHEN stopw >= 1 THEN 0 ELSE 1 END)
                 AS BIGINT) AS fail_stop_words,
               CAST(SUM(CASE WHEN nw BETWEEN 50 AND 100000
                         AND chars >= 3 * nw AND chars <= 10 * nw
                         AND sym * 10 <= nw AND alpha * 5 >= nw * 4
                         AND stopw >= 1
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
        FROM g GROUP BY source
    """

    # BPE merge learning: unrolled CTE replay of the greedy contract;
    # the merge table is the union of each round's winner.
    _bpe_ranks = "\n          UNION ALL ".join(
        f"SELECT CAST({k + 1} AS BIGINT) AS merge_rank, lhs, rhs,"
        f" c AS pair_count FROM b{k}"
        for k in range(BPE_N_MERGES)
    )
    sql["bpe_learn_merges"] = f"""
        WITH {_bpe_cte(BPE_N_MERGES)}
        SELECT * FROM (
          {_bpe_ranks}
        )
    """

    sql["bpe_fertility_per_source"] = f"""
        WITH {_bpe_cte(BPE_N_MERGES)},
        dw AS (
          SELECT source, t AS w FROM (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
               CAST(SUM(len(syms)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS fertility
        FROM dw JOIN it{BPE_N_MERGES} USING (w)
        GROUP BY source
    """

    # BPE transfer: training chain restricted to even doc_ids, then an
    # encode chain (e0..eN) applying b0..b{N-1} to the FULL corpus word
    # types via the same greedy-merge blocks; OOV = word types absent
    # from the training vocabulary w0.
    _enc = [_bpe_char_cte("e0", "wall")]
    for k in range(BPE_N_MERGES):
        _enc.extend(_bpe_apply_sql(k, f"e{k}", f"e{k + 1}", f"b{k}", "e"))
    _enc_sql = ",\n".join(_enc)
    sql["bpe_transfer_stats"] = f"""
        WITH {_bpe_cte(BPE_N_MERGES, "WHERE doc_id % 2 = 0")},
        wall AS MATERIALIZED (
          SELECT t AS w, CAST(COUNT(*) AS BIGINT) AS freq FROM (
            SELECT unnest(string_split(text, ' ')) AS t FROM documents
          ) WHERE t <> '' GROUP BY t
        ),
        {_enc_sql},
        dw AS (
          SELECT source, t AS w FROM (
            SELECT source, unnest(string_split(text, ' ')) AS t
            FROM documents
          ) WHERE t <> ''
        )
        SELECT source,
               CAST(COUNT(*) AS BIGINT) AS n_words,
               CAST(SUM(len(syms)) AS BIGINT) AS n_subwords,
               CAST(SUM(CASE WHEN t.tw IS NULL THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_oov_words,
               CAST(SUM(len(syms)) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                 AS fertility
        FROM dw
        JOIN e{BPE_N_MERGES} USING (w)
        LEFT JOIN (SELECT w AS tw FROM w0) t ON w = t.tw
        GROUP BY source
    """

    # Temperature mixture plan: weight = sqrt(tok) (IEEE correctly
    # rounded), normalization via ORDERED cumulative sum (one fixed
    # sequence of double additions in both engines), budget = integer
    # 3/2 of corpus tokens. Every double is bit-identical to Spark's by
    # construction, so the plan row hashes match exactly.
    _mix_plan_cte = """
        WITH d AS (
          SELECT source, doc_id, len(string_split(text, ' ')) AS n
          FROM documents
        ), s AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS tok FROM d GROUP BY source
        ), c AS (
          SELECT source, tok,
                 sqrt(CAST(tok AS DOUBLE)) AS weight,
                 SUM(sqrt(CAST(tok AS DOUBLE))) OVER
                   (ORDER BY source ROWS BETWEEN UNBOUNDED PRECEDING
                    AND CURRENT ROW) AS wcum,
                 SUM(tok) OVER () AS toktot
          FROM s
        ), p AS (
          SELECT source, tok, weight,
                 CAST(toktot * 3 // 2 AS DOUBLE) * weight
                   / (MAX(wcum) OVER ()) AS quota
          FROM c
        ), e AS (
          SELECT source, tok, weight, quota,
                 quota / CAST(tok AS DOUBLE) AS epochs
          FROM p
        ), plan AS (
          SELECT source, tok, weight, quota, epochs,
                 CAST(FLOOR(epochs) AS BIGINT) AS n_full,
                 CAST(FLOOR((epochs
                       - CAST(CAST(FLOOR(epochs) AS BIGINT) AS DOUBLE))
                      * 4294967296.0) AS BIGINT) AS frac_thr
          FROM e
        )
    """
    # UniMax waterfill: capped set via integer cross-multiplication on
    # the capacity-ascending rank; water level and epochs are the only
    # floats (one division each, identical operand order both engines).
    sql["unimax_alloc"] = """
        WITH d AS (
          SELECT source, len(string_split(text, ' ')) AS n FROM documents
        ), s AS (
          SELECT source, CAST(SUM(n) AS BIGINT) AS tok FROM d GROUP BY source
        ), c AS (
          SELECT source, tok, CAST(3 * tok AS BIGINT) AS cap FROM s
        ), r AS (
          SELECT source, tok, cap,
                 ROW_NUMBER() OVER (ORDER BY cap, source) AS rn,
                 CAST(SUM(cap) OVER (ORDER BY cap, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS pre,
                 COUNT(*) OVER () AS n,
                 CAST(CAST(SUM(tok) OVER () AS BIGINT) // 2 AS BIGINT) AS b
          FROM c
        ), f AS (
          SELECT *, cap * (n - rn + 1) + (pre - cap) < b AS capped FROM r
        ), g AS (
          SELECT *,
                 CAST(SUM(CASE WHEN capped THEN 1 ELSE 0 END) OVER ()
                   AS BIGINT) AS k,
                 CAST(SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER ()
                   AS BIGINT) AS capsum
          FROM f
        ), h AS (
          SELECT source, tok, cap, capped,
                 CASE WHEN capped THEN CAST(cap AS DOUBLE)
                      ELSE CAST(b - capsum AS DOUBLE)
                         / CAST(n - k AS DOUBLE) END AS allocated
          FROM g
        )
        SELECT source, tok, cap AS capacity, capped, allocated,
               allocated / CAST(tok AS DOUBLE) AS epochs
        FROM h
    """

    sql["source_mixture_plan"] = (
        _mix_plan_cte
        + """
        SELECT source, tok, weight, quota, epochs, n_full, frac_thr
        FROM plan
    """
    )

    # End-to-end epoch assembly: realized copy counts (integer md5
    # bucket vs frac_thr), epoch explode, then the same concat-and-chunk
    # packing as pack_context_windows in (epoch, doc_id) order.
    sql["epoch_pack_chunks"] = (
        _mix_plan_cte
        + """
        , r AS (
          SELECT d.source, d.doc_id, d.n,
                 f.n_full + CASE WHEN
                   (('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))
                      ::BIGINT) < f.frac_thr THEN 1 ELSE 0 END AS n_copies
          FROM d JOIN plan f USING (source)
        ), x AS (
          SELECT source,
                 epoch * 1099511627776 + doc_id AS ord,
                 n
          FROM r, unnest(range(0, n_copies)) AS u(epoch)
          WHERE n > 0
        ), spans AS (
          SELECT source,
                 SUM(n) OVER (PARTITION BY source ORDER BY ord) - n AS s,
                 SUM(n) OVER (PARTITION BY source ORDER BY ord) AS e
          FROM x
        ), per AS (
          SELECT source, s, e,
                 CAST(FLOOR(s / 512.0) AS BIGINT) AS c0,
                 chunk_id
          FROM spans,
               unnest(range(CAST(FLOOR(s / 512.0) AS BIGINT),
                            CAST(FLOOR((e - 1) / 512.0) AS BIGINT) + 1))
                 AS u(chunk_id)
        )
        SELECT source,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(SUM(LEAST(e, (chunk_id + 1) * 512)
                        - GREATEST(s, chunk_id * 512)) AS BIGINT) AS n_tokens,
               CAST(SUM(CASE WHEN chunk_id > c0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_split_docs
        FROM per GROUP BY source, chunk_id
    """
    )

    # Relational HLL: register relation (j = hv mod 2^12, mj = max rho),
    # harmonic sum in EXACT scaled-integer arithmetic (HUGEINT), linear
    # counting on the small-range branch. c_raw = alpha_m * m^2 * 2^52.
    _hll_c_raw = repr(0.7213 / (1 + 1.079 / 4096) * 4096 * 4096 * float(1 << 52))
    sql["hll_relational_per_source"] = f"""
        WITH w AS (
          SELECT source, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT source, array_to_string(ws[i + 1 : i + 3], ' ') AS gram
          FROM w, unnest(range(0, len(ws) - 2)) AS u(i)
        ), h AS (
          SELECT source,
                 ('0x' || translate(substring(md5(gram), 1, 1),
                                    '89abcdef', '01234567')
                   || substring(md5(gram), 2, 15))::BIGINT AS hv
          FROM g
        ), regs AS (
          SELECT source, hv % 4096 AS j,
                 MAX(CASE WHEN (hv >> 12) = 0 THEN 52
                     ELSE 52 - length(bin(hv >> 12)) END) AS mj
          FROM h GROUP BY 1, 2
        ), agg AS (
          SELECT source,
                 CAST(COUNT(*) AS BIGINT) AS n_nonzero,
                 CAST(SUM(mj) AS BIGINT) AS sum_rho,
                 CAST(SUM(j * mj) AS BIGINT) AS reg_checksum,
                 SUM((1::HUGEINT << CAST(52 - mj AS INTEGER))) AS s_nz
          FROM regs GROUP BY 1
        ), est AS (
          SELECT source, n_nonzero, sum_rho, reg_checksum,
                 {_hll_c_raw} / CAST(s_nz + (4096 - n_nonzero)
                                     * (1::HUGEINT << 52) AS DOUBLE) AS raw,
                 4096 - n_nonzero AS zeros
          FROM agg
        )
        SELECT source, n_nonzero, sum_rho, reg_checksum,
               ROUND(CASE WHEN zeros > 0 AND raw < 10240.0
                     THEN 4096.0 * ln(4096.0 / zeros)
                     ELSE raw END, 2) AS est_distinct
        FROM est
    """

    # Relational MinHash: 32-permutation signature per source; Jaccard =
    # matching fraction (exact in binary — power-of-two denominator).
    sql["minhash_relational_jaccard"] = """
        WITH w AS (
          SELECT source, string_split(text, ' ') AS ws FROM documents
          WHERE source IN ('src0', 'src1')
            AND len(string_split(text, ' ')) >= 3
        ), g AS (
          SELECT source, array_to_string(ws[i + 1 : i + 3], ' ') AS gram
          FROM w, unnest(range(0, len(ws) - 2)) AS u(i)
        ), st AS (
          SELECT source, CAST(p AS VARCHAR) || ':' || gram AS sv, p
          FROM g, unnest(range(0, 32)) AS t(p)
        ), sig AS (
          SELECT source, p AS perm,
                 MIN(('0x' || translate(substring(md5(sv), 1, 1),
                                        '89abcdef', '01234567')
                      || substring(md5(sv), 2, 15))::BIGINT) AS minh
          FROM st GROUP BY 1, 2
        )
        SELECT CAST(SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_match,
               CAST(32 AS BIGINT) AS n_perm,
               SUM(CASE WHEN a.minh = b.minh THEN 1 ELSE 0 END) / 32.0
                 AS est_jaccard
        FROM (SELECT perm, minh FROM sig WHERE source = 'src0') a
        JOIN (SELECT perm, minh FROM sig WHERE source = 'src1') b
          USING (perm)
    """

    # Relational SimHash: 63 bit-count aggregates over the portable
    # md5-63bit word hash; tie (count*2 == n) -> 0 in both engines.
    sql["simhash_relational"] = """
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS wd
          FROM documents
        ), h AS (
          SELECT doc_id,
                 ('0x' || translate(substring(md5(wd), 1, 1),
                                    '89abcdef', '01234567')
                   || substring(md5(wd), 2, 15))::BIGINT AS hv
          FROM w
        ), b AS (
          SELECT doc_id, i,
                 CASE WHEN SUM((hv >> i) & 1) * 2 > COUNT(*)
                      THEN CAST(1 AS BIGINT) << i ELSE 0 END AS term
          FROM h, unnest(range(0, 63)) AS u(i)
          GROUP BY doc_id, i
        ), s AS (
          SELECT doc_id, CAST(SUM(term) AS BIGINT) AS sim
          FROM b GROUP BY doc_id
        )
        SELECT doc_id, lpad(lower(to_hex(sim)), 16, '0') AS simhash FROM s
    """

    # C4 rule pack: identical planting chain, line-filter lambda, and
    # replace-difference sentence counting; reason CASE order mirrors
    # the operator's first-failing-rule order.
    sql["c4_clean"] = """
        WITH p0 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0
                      THEN replace(text, ' table ', '.' || chr(10)) || '.'
                      ELSE text END AS t
          FROM documents
        ), p1 AS (
          SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN t || chr(10) ||
            'lorem ipsum dolor sit amet consectetur adipiscing elit.'
            ELSE t END AS t FROM p0
        ), p2 AS (
          SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN t || chr(10) ||
            'this page contains badword1 obviously right here.'
            ELSE t END AS t FROM p1
        ), p3 AS (
          SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN t || chr(10) ||
            'see the {curly} bracket inline here today.'
            ELSE t END AS t FROM p2
        ), p4 AS (
          SELECT doc_id, CASE WHEN doc_id % 19 = 0 THEN t || chr(10) ||
            'please enable javascript to view this content now.'
            ELSE t END AS t FROM p3
        ), kl AS (
          SELECT doc_id,
                 len(string_split(t, chr(10))) AS nl,
                 list_filter(string_split(t, chr(10)),
                   l -> regexp_matches(l, '[.!?"]$')
                        AND len(list_filter(string_split(l, ' '),
                                            x -> x <> '')) >= 5
                        AND NOT contains(lower(l), 'javascript')) AS kl
          FROM p4
        ), k AS (
          -- array_to_string([]) is NULL in DuckDB; Spark concat_ws → ''
          SELECT doc_id, nl, len(kl) AS nk,
                 COALESCE(array_to_string(kl, chr(10)), '') AS kept
          FROM kl
        ), m AS (
          SELECT doc_id, nl, nk, kept,
                 (length(kept) - length(replace(kept, '.', '')))
               + (length(kept) - length(replace(kept, '!', '')))
               + (length(kept) - length(replace(kept, '?', ''))) AS ns
          FROM k
        ), r AS (
          SELECT *,
                 CASE WHEN ns < 3 THEN 'too_few_sentences'
                      WHEN contains(lower(kept), 'badword1')
                        OR contains(lower(kept), 'badword2') THEN 'blocklist'
                      WHEN contains(lower(kept), 'lorem ipsum')
                        THEN 'lorem_ipsum'
                      WHEN contains(kept, '{') THEN 'curly_brace'
                 END AS reason
          FROM m
        )
        SELECT CAST(doc_id AS VARCHAR) AS doc_id, kept AS text,
               CAST(nk AS BIGINT) AS n_lines_kept,
               CAST(nl - nk AS BIGINT) AS n_lines_dropped,
               CAST(ns AS BIGINT) AS n_sentences,
               reason IS NULL AS page_keep, reason
        FROM r
    """

    # --- gopher_repetition_rules: full Rae 2021 Table A1 replica -------
    # word n-grams are rebuilt from per-word md5 digests exactly like the
    # engine (gram id = md5 of space-joined word digests), so the oracle
    # and the engine agree bit-for-bit including any md5-collision noise
    from bloomine_spark.operators.textops import (
        GOPHER_REPETITION_THRESHOLDS as _GRT,
    )

    _thr = dict(_GRT)
    _lead_cols = ",\n                 ".join(
        f"lead(h, {k}) OVER wd AS h{k}, lead(wl, {k}) OVER wd AS l{k}"
        for k in range(1, 10)
    )
    _gram_selects = "\n          UNION ALL\n".join(
        "          SELECT doc_id, {n} AS n, start,\n"
        "                 md5({h}) AS gh,\n"
        "                 wl + {ls} + {nm1} AS gl\n"
        "          FROM lds WHERE h{nm1} IS NOT NULL".format(
            n=n,
            h=" || ' ' || ".join(["h"] + [f"h{k}" for k in range(1, n)]),
            ls=" + ".join(f"l{k}" for k in range(1, n)),
            nm1=n - 1,
        )
        for n in range(2, 11)
    )
    _top_cases = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN tchars END) AS top{n}_chars"
        for n in (2, 3, 4)
    )
    _cov_cases = ", ".join(
        f"MAX(CASE WHEN n = {n} THEN dup END) AS dup{n}_chars"
        for n in range(5, 11)
    )
    _num = {
        "dup_line_frac": "dup_lines",
        "dup_para_frac": "dup_paras",
        "dup_line_char_frac": "dup_lines_chars",
        "dup_para_char_frac": "dup_paras_chars",
        **{f"top{n}_char_frac": f"top{n}_chars" for n in (2, 3, 4)},
        **{f"dup{n}_char_frac": f"dup{n}_chars" for n in range(5, 11)},
    }
    _den = {"dup_line_frac": "n_lines", "dup_para_frac": "n_paras"}
    _fracs = ",\n               ".join(
        "ROUND(COALESCE({v}, 0) / CAST(GREATEST({d}, 1) AS DOUBLE), 6)"
        " AS {k}".format(
            v=_num[k], d=_den.get(k, "nchars"), k=k
        )
        for k, _ in _GRT
    )
    _reason = "CASE " + " ".join(
        "WHEN COALESCE({v}, 0) * 100 > {t} * {d} THEN '{k}'".format(
            v=_num[k], t=_thr[k], d=_den.get(k, "nchars"), k=k
        )
        for k, _ in _GRT
    ) + " END"
    sql["gopher_repetition_rules"] = f"""
        WITH p0 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || chr(10) ||
                   'repeat line here now.' || chr(10) ||
                   'repeat line here now.'
                 ELSE text END AS t
          FROM documents
        ), p1 AS (
          SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN t ||
            chr(10) || chr(10) || 'same paragraph twice content.' ||
            chr(10) || chr(10) || 'same paragraph twice content.'
            ELSE t END AS t FROM p0
        ), p2 AS (
          SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN t || ' ' ||
            '{("spam ham " * 12).strip()}' ELSE t END AS t FROM p1
        ), base AS (
          SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN t ||
            ' one two three four five six one two three four five six'
            ELSE t END AS t FROM p2
        ), b AS (
          SELECT doc_id, t, length(t) AS nchars FROM base
        ), lu AS (
          SELECT doc_id, md5(u.x) AS h, length(u.x) AS l
          FROM b, unnest(list_filter(string_split(t, chr(10)),
                                     x -> x <> '')) AS u(x)
        ), lcx AS (
          SELECT doc_id, h, COUNT(*) AS c, MAX(l) AS l
          FROM lu GROUP BY 1, 2
        ), lag_ AS (
          SELECT doc_id, SUM(c) AS n_lines, SUM(c - 1) AS dup_lines,
                 SUM((c - 1) * l) AS dup_lines_chars
          FROM lcx GROUP BY 1
        ), pu AS (
          SELECT doc_id, md5(u.x) AS h, length(u.x) AS l
          FROM b, unnest(list_filter(
                 string_split(t, chr(10) || chr(10)),
                 x -> x <> '')) AS u(x)
        ), pcx AS (
          SELECT doc_id, h, COUNT(*) AS c, MAX(l) AS l
          FROM pu GROUP BY 1, 2
        ), pag AS (
          SELECT doc_id, SUM(c) AS n_paras, SUM(c - 1) AS dup_paras,
                 SUM((c - 1) * l) AS dup_paras_chars
          FROM pcx GROUP BY 1
        ), ww AS (
          SELECT doc_id, string_split(t, ' ') AS ws FROM b
        ), wx AS (
          SELECT doc_id, u.i, md5(ws[u.i + 1]) AS h,
                 length(ws[u.i + 1]) AS wl
          FROM ww, unnest(range(0, len(ws))) AS u(i)
        ), ws2 AS (
          SELECT doc_id, i, h, wl,
                 COALESCE(SUM(wl + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS start
          FROM wx
        ), lds AS (
          SELECT doc_id, start, h, wl,
                 {_lead_cols}
          FROM ws2
          WINDOW wd AS (PARTITION BY doc_id ORDER BY i)
        ), g AS (
{_gram_selects}
        ), cnt AS (
          SELECT doc_id, n, gh, COUNT(*) AS c, MAX(gl) AS gl
          FROM g GROUP BY 1, 2, 3
        ), t1 AS (
          SELECT doc_id, n, MAX(c) AS cmax FROM cnt
          WHERE n <= 4 AND c >= 2 GROUP BY 1, 2
        ), t2 AS (
          SELECT c.doc_id, c.n, MAX(t1.cmax * c.gl) AS tchars
          FROM cnt c JOIN t1 USING (doc_id, n)
          WHERE c.c = t1.cmax GROUP BY 1, 2
        ), topp AS (
          SELECT doc_id, {_top_cases} FROM t2 GROUP BY 1
        ), occ AS (
          SELECT g.doc_id, g.n, g.start, g.gl
          FROM g JOIN cnt USING (doc_id, n, gh)
          WHERE cnt.c >= 2 AND g.n >= 5
        ), isl AS (
          SELECT doc_id, n, start, gl,
                 CASE WHEN start > COALESCE(MAX(start + gl) OVER (
                   PARTITION BY doc_id, n ORDER BY start, gl
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), -1) THEN 1 ELSE 0 END AS ni
          FROM occ
        ), isl2 AS (
          SELECT doc_id, n, start, gl,
                 SUM(ni) OVER (PARTITION BY doc_id, n
                               ORDER BY start, gl) AS grp
          FROM isl
        ), cv AS (
          SELECT doc_id, n, grp,
                 MAX(start + gl) - MIN(start) AS cov
          FROM isl2 GROUP BY 1, 2, 3
        ), cv2 AS (
          SELECT doc_id, n, SUM(cov) AS dup FROM cv GROUP BY 1, 2
        ), covp AS (
          SELECT doc_id, {_cov_cases} FROM cv2 GROUP BY 1
        ), j AS (
          SELECT b.doc_id, b.nchars,
                 COALESCE(lag_.n_lines, 0) AS n_lines,
                 COALESCE(pag.n_paras, 0) AS n_paras,
                 dup_lines, dup_lines_chars, dup_paras, dup_paras_chars,
                 top2_chars, top3_chars, top4_chars,
                 dup5_chars, dup6_chars, dup7_chars, dup8_chars,
                 dup9_chars, dup10_chars
          FROM b LEFT JOIN lag_ USING (doc_id)
                 LEFT JOIN pag USING (doc_id)
                 LEFT JOIN topp USING (doc_id)
                 LEFT JOIN covp USING (doc_id)
        )
        SELECT doc_id, CAST(nchars AS BIGINT) AS n_chars,
               CAST(n_lines AS BIGINT) AS n_lines,
               CAST(n_paras AS BIGINT) AS n_paras,
               {_fracs},
               ({_reason}) IS NULL AS keep,
               ({_reason}) AS reason
        FROM j
        ORDER BY doc_id
    """

    # --- wordpiece_fertility_per_source: unrolled greedy rounds (each
    # consumes >= 1 char; 12 rounds > max fixture word length 8), same
    # integer longest-match rule, same vocab construction ----------------
    _WP_ROUNDS = 12
    _wp_rounds_sql = ""
    for _k in range(1, _WP_ROUNDS + 1):
        _wp_rounds_sql += f"""
        , r{_k}c AS (
          SELECT s.word, s.len, s.p, s.np, s.pieces, c.l
          FROM r{_k - 1} s CROSS JOIN (
            SELECT unnest([1, 2, 3, 4]) AS l) c
          WHERE s.p < s.len AND s.p + c.l <= s.len
        ), r{_k}m AS (
          SELECT c.word, c.len, c.p, c.np, c.pieces,
                 COALESCE(MAX(CASE WHEN v.piece IS NOT NULL
                               THEN c.l END), 1) AS bl
          FROM r{_k}c c LEFT JOIN vocab v
            ON v.piece = substr(c.word, CAST(c.p + 1 AS INT),
                                CAST(c.l AS INT))
          GROUP BY 1, 2, 3, 4, 5
        ), r{_k} AS MATERIALIZED (
          SELECT word, len, p + bl AS p, np + 1 AS np,
                 pieces || (CASE WHEN np = 0 THEN '' ELSE '|' END)
                        || substr(word, CAST(p + 1 AS INT),
                                  CAST(bl AS INT)) AS pieces
          FROM r{_k}m
          UNION ALL
          SELECT word, len, p, np, pieces FROM r{_k - 1} WHERE p >= len
        )"""
    sql["wordpiece_fertility_per_source"] = f"""
        WITH wf AS (
          SELECT u.w AS word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM documents, unnest(string_split(text, ' ')) u(w)
          WHERE u.w <> '' GROUP BY 1
        ), pc AS (
          SELECT substr(word, CAST(u.i AS INT), CAST(v.l AS INT)) AS piece,
                 CAST(SUM(freq) AS BIGINT) AS cnt
          FROM wf,
               unnest(range(1, length(word) + 1)) u(i),
               unnest(range(1, least(4, length(word) - u.i + 1) + 1)) v(l)
          GROUP BY 1
        ), vocab AS (
          SELECT piece FROM pc WHERE cnt >= 2 OR length(piece) = 1
        ), r0 AS (
          SELECT word, length(word) AS len, 0 AS p, 0 AS np,
                 '' AS pieces
          FROM wf
        ){_wp_rounds_sql}, seg AS (
          SELECT word, np FROM r{_WP_ROUNDS}
        ), ps AS (
          SELECT source, u.w AS word, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents, unnest(string_split(text, ' ')) u(w)
          WHERE u.w <> '' GROUP BY 1, 2
        )
        SELECT ps.source,
               CAST(SUM(ps.c) AS BIGINT) AS n_words,
               CAST(SUM(ps.c * seg.np) AS BIGINT) AS n_pieces,
               ROUND(SUM(ps.c * seg.np) / CAST(SUM(ps.c) AS DOUBLE), 6)
                 AS fertility
        FROM ps JOIN seg USING (word)
        GROUP BY 1
        ORDER BY 1
    """

    # --- unigram_segment_stats_per_source: unrolled Viterbi positions
    # (12 > max fixture word length 8), every dp CTE MATERIALIZED (the
    # DuckDB inlining pitfall), identical tie-break comparator -----------
    _UV_ROUNDS = 12
    _uv_sql = ""
    for _i in range(1, _UV_ROUNDS + 1):
        _branches = "\n          UNION ALL\n".join(
            "          SELECT s.word, s.len, s.score + v.logp AS score,\n"
            "                 s.np + 1 AS np,\n"
            "                 s.pieces || (CASE WHEN s.np = 0 THEN ''\n"
            "                              ELSE '|' END)\n"
            "                   || substr(s.word, {jp1}, {l}) AS pieces\n"
            "          FROM dp{j} s JOIN uvocab v\n"
            "            ON v.piece = substr(s.word, {jp1}, {l})\n"
            "          WHERE s.len >= {i}".format(
                j=_j, jp1=_j + 1, l=_i - _j, i=_i,
            )
            for _j in range(max(0, _i - 4), _i)
        )
        _uv_sql += f"""
        , dp{_i}c AS (
{_branches}
        ), dp{_i} AS MATERIALIZED (
          SELECT word, len, score, np, pieces FROM (
            SELECT *, ROW_NUMBER() OVER (
              PARTITION BY word
              ORDER BY ROUND(score, 6) DESC, np ASC, pieces DESC) AS rn
            FROM dp{_i}c
          ) WHERE rn = 1
        )"""
    _uv_final = "\n          UNION ALL\n".join(
        f"          SELECT word, score, np FROM dp{_i} WHERE len = {_i}"
        for _i in range(1, _UV_ROUNDS + 1)
    )
    sql["unigram_segment_stats_per_source"] = f"""
        WITH wf AS (
          SELECT u.w AS word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM documents, unnest(string_split(text, ' ')) u(w)
          WHERE u.w <> '' GROUP BY 1
        ), pc AS (
          SELECT substr(word, CAST(u.i AS INT), CAST(v.l AS INT)) AS piece,
                 CAST(SUM(freq) AS BIGINT) AS cnt
          FROM wf,
               unnest(range(1, length(word) + 1)) u(i),
               unnest(range(1, least(4, length(word) - u.i + 1) + 1)) v(l)
          GROUP BY 1
        ), kept AS (
          SELECT piece, cnt FROM pc WHERE cnt >= 2 OR length(piece) = 1
        ), uvocab AS (
          SELECT piece,
                 ln(CAST(cnt AS DOUBLE))
                   - ln(CAST((SELECT SUM(cnt) FROM kept) AS DOUBLE))
                   AS logp
          FROM kept
        ), dp0 AS (
          SELECT word, length(word) AS len, 0.0 AS score, 0 AS np,
                 '' AS pieces
          FROM wf
        ){_uv_sql}, seg AS (
{_uv_final}
        ), ps AS (
          SELECT source, u.w AS word, CAST(COUNT(*) AS BIGINT) AS c
          FROM documents, unnest(string_split(text, ' ')) u(w)
          WHERE u.w <> '' GROUP BY 1, 2
        )
        SELECT ps.source,
               CAST(SUM(ps.c) AS BIGINT) AS n_words,
               CAST(SUM(ps.c * seg.np) AS BIGINT) AS n_pieces,
               ROUND(SUM(ps.c * seg.np) / CAST(SUM(ps.c) AS DOUBLE), 6)
                 AS fertility,
               ROUND(SUM(ps.c * seg.score) / SUM(ps.c), 6) AS avg_logp
        FROM ps JOIN seg USING (word)
        GROUP BY 1
        ORDER BY 1
    """

    # --- ccnet_normalize: identical planting, identical regex automata
    # (shared Java-regex/RE2 classes), same replace order -----------------
    sql["ccnet_normalize"] = """
        WITH p0 AS (
          SELECT doc_id, CASE WHEN doc_id % 7 = 0
                 THEN text || ' The Price IS 42,99 Today'
                 ELSE text END AS t
          FROM documents
        ), p1 AS (
          SELECT doc_id, CASE WHEN doc_id % 11 = 0
                 THEN t || chr(9) || 'col1' || chr(9) || 'col2' ||
                      chr(10) || 'row   with    runs  '
                 ELSE t END AS t FROM p0
        ), base AS (
          SELECT doc_id, CASE WHEN doc_id % 13 = 0
                 THEN t || chr(7) || 'bell here'
                 ELSE t END AS t FROM p1
        )
        SELECT doc_id,
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(t), '[0-9]', '0', 'g'),
                     '[\\t\\n\\r\\x0b\\x0c]', ' ', 'g'),
                   '[\\x00-\\x1f\\x7f]', '', 'g'),
                 ' +', ' ', 'g')) AS text,
               CAST(length(t) AS BIGINT) AS n_chars_raw,
               CAST(length(trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(lower(t), '[0-9]', '0', 'g'),
                     '[\\t\\n\\r\\x0b\\x0c]', ' ', 'g'),
                   '[\\x00-\\x1f\\x7f]', '', 'g'),
                 ' +', ' ', 'g'))) AS BIGINT) AS n_chars_norm
        FROM base
        ORDER BY doc_id
    """

    # --- sample_by_hash: md5 hex-1-8 threshold, pure function of
    # (doc_id, salt) ------------------------------------------------------
    sql["sample_by_hash"] = """
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents
        WHERE CAST(('0x' || substr(
                md5('bench:' || CAST(doc_id AS VARCHAR)), 1, 8))
              AS BIGINT) < 1073741824
        ORDER BY doc_id
    """

    sql["line_dedup_docs"] = """
        WITH d AS (
          SELECT doc_id,
            text
            || CASE WHEN doc_id % 3 = 0
                 THEN chr(10) || 'shared footer alpha' ELSE '' END
            || CASE WHEN doc_id % 5 = 0
                 THEN chr(10) || 'cookie notice beta' ELSE '' END AS t
          FROM documents
        ), l AS (
          SELECT doc_id, u.i AS pos,
                 string_split(t, chr(10))[u.i + 1] AS line
          FROM d, unnest(range(0, len(string_split(t, chr(10))))) AS u(i)
        ), m AS (
          SELECT doc_id, pos, md5(line) AS dg FROM l WHERE line <> ''
        ), o AS (
          SELECT doc_id, pos,
                 ROW_NUMBER() OVER (PARTITION BY dg
                                    ORDER BY doc_id, pos) AS occ
          FROM m
        ), dr AS (
          SELECT doc_id, pos FROM o WHERE occ > 1
        ), k AS (
          SELECT l.doc_id, l.pos, l.line,
                 dr.doc_id IS NOT NULL AS dropped
          FROM l LEFT JOIN dr
            ON dr.doc_id = l.doc_id AND dr.pos = l.pos
        )
        SELECT doc_id,
               COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                                   chr(10) ORDER BY pos), '') AS text,
               CAST(COALESCE(SUM(CASE WHEN dropped THEN 1 END), 0)
                    AS BIGINT) AS n_lines_removed
        FROM k GROUP BY doc_id
    """

    # boilerplate by per-host line document frequency: the threshold
    # expression interpolates the SAME double literal the operator uses
    # (df > frac * n_docs, one multiply), so boundary classes agree
    _BP_FRAC = repr(1 / 3)
    sql["boilerplate_line_df_docs"] = f"""
        WITH d AS (
          SELECT doc_id, 'h' || CAST(doc_id % 10 AS VARCHAR) AS host,
            text
            || chr(10) || 'host footer ' || CAST(doc_id % 10 AS VARCHAR)
            || CASE WHEN doc_id % 4 = 0
                 THEN chr(10) || 'promo line visit us' ELSE '' END
            || chr(10) || 'note ' || CAST(doc_id AS VARCHAR) AS t
          FROM documents
        ), l AS (
          SELECT doc_id, host, u.i AS pos,
                 string_split(t, chr(10))[u.i + 1] AS line
          FROM d, unnest(range(0, len(string_split(t, chr(10))))) AS u(i)
        ), m AS (
          SELECT doc_id, host, pos, md5(line) AS dg FROM l WHERE line <> ''
        ), dfq AS (
          SELECT host, dg, COUNT(DISTINCT doc_id) AS df
          FROM m GROUP BY host, dg
        ), tot AS (
          SELECT host, COUNT(DISTINCT doc_id) AS n_docs FROM d GROUP BY host
        ), bad AS (
          SELECT dfq.host, dfq.dg
          FROM dfq JOIN tot ON tot.host = dfq.host
          WHERE dfq.df > {_BP_FRAC} * tot.n_docs
        ), dr AS (
          SELECT m.doc_id, m.pos
          FROM m JOIN bad ON bad.host = m.host AND bad.dg = m.dg
        ), k AS (
          SELECT l.doc_id, l.host, l.pos, l.line,
                 dr.doc_id IS NOT NULL AS dropped
          FROM l LEFT JOIN dr
            ON dr.doc_id = l.doc_id AND dr.pos = l.pos
        )
        SELECT doc_id, host,
               COALESCE(string_agg(CASE WHEN NOT dropped THEN line END,
                                   chr(10) ORDER BY pos), '') AS text,
               CAST(COALESCE(SUM(CASE WHEN dropped THEN 1 END), 0)
                    AS BIGINT) AS n_lines_removed
        FROM k GROUP BY doc_id, host
    """

    sql["k_anonymity_audit_customers"] = """
        SELECT c_nationkey AS nation, c_mktsegment AS segment,
               CAST(COUNT(*) AS BIGINT) AS class_size,
               CAST(COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT))
                    AS BIGINT) AS n_sensitive,
               COUNT(*) < 10 AS k_violation,
               COUNT(DISTINCT CAST(floor(c_acctbal / 2000) AS BIGINT)) < 3
                 AS l_violation
        FROM customer GROUP BY 1, 2
    """

    # local-recoding ladder replay: per level a count window over the
    # REMAINDER of the previous levels, published rows peel off, the
    # suppressed tail gets gen_level -1 / all-NULL quasi
    sql["generalize_k_customers"] = """
        WITH z0 AS MATERIALIZED (
          SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
                 CAST(c_nationkey AS VARCHAR) AS nation,
                 c_mktsegment AS segment,
                 CAST(CAST(floor(c_acctbal / 4000) AS BIGINT) AS VARCHAR)
                   AS bal_band,
                 COUNT(*) OVER (
                   PARTITION BY c_nationkey, c_mktsegment,
                                CAST(floor(c_acctbal / 4000) AS BIGINT)
                 ) AS cs
          FROM customer
        ), z1 AS MATERIALIZED (
          SELECT c_custkey, c_nationkey, c_mktsegment, c_acctbal,
                 CAST(c_nationkey AS VARCHAR) AS nation,
                 c_mktsegment AS segment,
                 CAST(CAST(floor(c_acctbal / 8000) AS BIGINT) AS VARCHAR)
                   AS bal_band,
                 COUNT(*) OVER (
                   PARTITION BY c_nationkey, c_mktsegment,
                                CAST(floor(c_acctbal / 8000) AS BIGINT)
                 ) AS cs
          FROM z0 WHERE cs < 8
        ), z2 AS MATERIALIZED (
          SELECT c_custkey, c_nationkey, c_mktsegment,
                 CAST(c_nationkey AS VARCHAR) AS nation,
                 c_mktsegment AS segment,
                 CAST(NULL AS VARCHAR) AS bal_band,
                 COUNT(*) OVER (
                   PARTITION BY c_nationkey, c_mktsegment
                 ) AS cs
          FROM z1 WHERE cs < 8
        ), z3 AS MATERIALIZED (
          SELECT c_custkey,
                 CAST(c_nationkey AS VARCHAR) AS nation,
                 CAST(NULL AS VARCHAR) AS segment,
                 CAST(NULL AS VARCHAR) AS bal_band,
                 COUNT(*) OVER (PARTITION BY c_nationkey) AS cs
          FROM z2 WHERE cs < 8
        )
        SELECT c_custkey, 0 AS gen_level, nation, segment, bal_band
        FROM z0 WHERE cs >= 8
        UNION ALL
        SELECT c_custkey, 1, nation, segment, bal_band
        FROM z1 WHERE cs >= 8
        UNION ALL
        SELECT c_custkey, 2, nation, segment, bal_band
        FROM z2 WHERE cs >= 8
        UNION ALL
        SELECT c_custkey, 3, nation, segment, bal_band
        FROM z3 WHERE cs >= 8
        UNION ALL
        SELECT c_custkey, -1, CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR),
               CAST(NULL AS VARCHAR)
        FROM z3 WHERE cs < 8
    """

    _jw_bases_sql = ", ".join(f"'{x}'" for x in _JW_BASES)

    # DuckDB twin of linkage.soundex_key, composed from the SAME letter
    # map constants; RE2 needs the explicit 'g' flag where Spark's
    # regexp_replace is global by default
    from bloomine_spark.operators.linkage import _SX_FROM, _SX_TO

    def _sx_sql(col: str) -> str:
        s1 = f"regexp_replace(upper({col}), '[^A-Z]', '', 'g')"
        t = f"translate({s1}, '{_SX_FROM}', '{_SX_TO}')"
        t = f"regexp_replace({t}, '7', '', 'g')"
        for d in "0123456":
            t = f"regexp_replace({t}, '{d}+', '{d}', 'g')"
        tail = (
            f"CASE WHEN substring({s1}, 1, 1) IN ('H', 'W') THEN {t} "
            f"ELSE substring({t}, 2, 1000000) END"
        )
        digits = f"regexp_replace({tail}, '0', '', 'g')"
        return (
            f"CASE WHEN length({s1}) = 0 THEN NULL "
            f"ELSE substring({s1}, 1, 1) || "
            f"rpad(substring({digits}, 1, 3), 3, '0') END"
        )

    sql["phonetic_jw_pairs_names"] = f"""
        WITH ids AS (SELECT DISTINCT doc_id % 200 AS nid FROM documents),
        nm AS (
          SELECT nid, {_JW_NAME_CASE} AS name
          FROM (SELECT nid,
                       ([{_jw_bases_sql}])[CAST(nid % 8 AS INT) + 1] AS b
                FROM ids)
        ), r AS MATERIALIZED (
          SELECT nid, name, {_sx_sql('name')} AS block_key FROM nm
          WHERE {_sx_sql('name')} IS NOT NULL
            AND {_sx_sql('name')} <> ''
        )
        SELECT a.nid AS id_a, b.nid AS id_b, a.block_key,
               jaro_winkler_similarity(a.name, b.name) AS jw
        FROM r a JOIN r b
          ON a.block_key = b.block_key AND a.nid < b.nid
        WHERE jaro_winkler_similarity(a.name, b.name) >= 0.88
    """
    sql["jw_pairs_names"] = f"""
        WITH ids AS (SELECT DISTINCT doc_id % 200 AS nid FROM documents),
        nm AS (
          SELECT nid, {_JW_NAME_CASE} AS name
          FROM (SELECT nid,
                       ([{_jw_bases_sql}])[CAST(nid % 8 AS INT) + 1] AS b
                FROM ids)
        ), r AS (
          SELECT nid, name, substring(name, 1, 1) AS block_key FROM nm
          WHERE substring(name, 1, 1) IS NOT NULL
            AND substring(name, 1, 1) <> ''
        )
        SELECT a.nid AS id_a, b.nid AS id_b, a.block_key,
               jaro_winkler_similarity(a.name, b.name) AS jw
        FROM r a JOIN r b
          ON a.block_key = b.block_key AND a.nid < b.nid
        WHERE jaro_winkler_similarity(a.name, b.name) >= 0.88
    """

    # script mix: interpolate the operator's OWN range constants and the
    # planted snippet literals; per-script count = char-length difference
    from bloomine_spark.operators.textops import SCRIPT_RANGES

    _scr_names = sorted(SCRIPT_RANGES)
    _scr_counts = ",\n".join(
        f"length(text) - length(regexp_replace(text, '[{SCRIPT_RANGES[s]}]'"
        f", '', 'g')) AS n_{s}"
        for s in _scr_names
    )
    _scr_total = " + ".join(f"n_{s}" for s in _scr_names)
    _scr_structs = ", ".join(
        f"struct_pack(s := '{s}', c := n_{s})" for s in _scr_names
    )
    sql["script_mix_docs"] = f"""
        WITH p AS (
          SELECT doc_id,
            CASE WHEN doc_id % 5 = 2 THEN '{_SCRIPT_SNIPPETS[2]}'
                 WHEN doc_id % 5 = 1 THEN text || ' ' || '{_SCRIPT_SNIPPETS[1]}'
                 WHEN doc_id % 5 = 3 THEN text || ' ' || '{_SCRIPT_SNIPPETS[3]}'
                 WHEN doc_id % 5 = 4 THEN text || ' ' || '{_SCRIPT_SNIPPETS[4]}'
                 ELSE text END AS text
          FROM documents
        ), c AS (
          SELECT doc_id, {_scr_counts}
          FROM p
        ), tot AS (
          SELECT *, {_scr_total} AS n_script FROM c
        ), lng AS (
          SELECT doc_id, u.x.s AS s, u.x.c AS cnt
          FROM tot, unnest([{_scr_structs}]) AS u(x)
        ), dom AS (
          SELECT doc_id, s, cnt,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY cnt DESC, s) AS rk
          FROM lng
        )
        SELECT t.doc_id,
               {", ".join(f"CAST(t.n_{s} AS BIGINT) AS n_{s}" for s in _scr_names)},
               CAST(t.n_script AS BIGINT) AS n_script,
               CASE WHEN t.n_script > 0 THEN d.s ELSE 'none' END
                 AS dominant_script,
               CASE WHEN t.n_script > 0
                    THEN ROUND(CAST(d.cnt AS DOUBLE) / t.n_script, 6)
               END AS dominant_frac
        FROM tot t JOIN dom d ON d.doc_id = t.doc_id AND d.rk = 1
    """

    sql["snapshot_diff_docs"] = """
        WITH o AS (
          SELECT doc_id, md5('v1 body ' || CAST(doc_id AS VARCHAR)) AS fo
          FROM documents WHERE doc_id % 7 <> 6
        ), n AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 3 = 0
                          THEN 'v2 body ' || CAST(doc_id AS VARCHAR)
                          ELSE 'v1 body ' || CAST(doc_id AS VARCHAR) END)
                   AS fn
          FROM documents WHERE doc_id % 7 <> 5
        )
        SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
               CASE WHEN o.doc_id IS NULL THEN 'added'
                    WHEN n.doc_id IS NULL THEN 'removed'
                    WHEN fo = fn THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id
    """

    sql["source_overlap_docs"] = """
        WITH fp AS (
          SELECT DISTINCT 'src' || CAST(doc_id % 4 AS VARCHAR) AS source,
                 md5('shared body ' || CAST(doc_id % 30 AS VARCHAR)) AS fp
          FROM documents
        )
        SELECT source AS source_a, source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp GROUP BY source
        UNION ALL
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM fp a JOIN fp b
          ON a.fp = b.fp AND a.source < b.source
        GROUP BY a.source, b.source
    """

    # chunking: same closed-form chunk-count arithmetic (stride 24,
    # window 32), list_slice replay of the token windows
    sql["chunk_documents"] = """
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), x -> x <> '') AS w
          FROM documents
        ), sz AS (
          SELECT doc_id, w, len(w) AS n,
                 CASE WHEN len(w) > 32
                      THEN 1 + CAST(ceil((len(w) - 32) / 24.0) AS INT)
                      ELSE 1 END AS k
          FROM t WHERE len(w) > 0
        )
        SELECT doc_id, u.i AS chunk_id,
               u.i * 24 AS start_tok,
               CAST(least(32, n - u.i * 24) AS INT) AS n_tokens,
               array_to_string(w[u.i * 24 + 1 : u.i * 24 + 32], ' ')
                 AS text
        FROM sz, unnest(range(0, k)) AS u(i)
    """

    sql["incremental_screen_docs"] = """
        WITH corpus AS (
          SELECT doc_id, 'content ' || CAST(doc_id % 50 AS VARCHAR) AS text
          FROM documents WHERE doc_id % 3 <> 0
        ), grp AS (
          SELECT text, MIN(doc_id) AS canonical_id FROM corpus GROUP BY text
        ), batch AS (
          SELECT doc_id, 'content ' || CAST(doc_id % 75 AS VARCHAR) AS text
          FROM documents WHERE doc_id % 3 = 0
        )
        SELECT b.doc_id,
               g.canonical_id IS NULL AS keep,
               CASE WHEN g.canonical_id IS NOT NULL THEN 'exact' END
                 AS reason,
               g.canonical_id AS matched_id,
               CAST(NULL AS DOUBLE) AS est_jaccard
        FROM batch b LEFT JOIN grp g ON g.text = b.text
    """

    _prof_num = """
        SELECT '{c}' AS column_name, 'n' AS metric,
               CAST(COUNT({c}) AS DOUBLE) AS value FROM lineitem
        UNION ALL SELECT '{c}', 'null_frac',
               CAST(COUNT(*) - COUNT({c}) AS DOUBLE) / COUNT(*) FROM lineitem
        UNION ALL SELECT '{c}', 'n_distinct',
               CAST(COUNT(DISTINCT {c}) AS DOUBLE) FROM lineitem
    """
    _prof_extra = """
        UNION ALL SELECT '{c}', 'min', CAST(MIN({c}) AS DOUBLE) FROM lineitem
        UNION ALL SELECT '{c}', 'max', CAST(MAX({c}) AS DOUBLE) FROM lineitem
        UNION ALL SELECT '{c}', 'mean', AVG({c}) FROM lineitem
    """
    sql["profile_lineitem"] = " UNION ALL ".join(
        (_prof_num + _prof_extra).format(c=c)
        if c != "l_returnflag"
        else _prof_num.format(c=c)
        for c in ("l_orderkey", "l_quantity", "l_extendedprice",
                  "l_returnflag")
    )

    sql["binned_price_orders"] = """
        WITH v AS (
          SELECT o_totalprice AS v FROM orders WHERE o_totalprice IS NOT NULL
        ), nn AS (SELECT COUNT(*) AS c FROM v),
        r AS (
          SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM v
        ), e AS MATERIALIZED (
          SELECT i, r.v
          FROM (VALUES (1), (2), (3)) AS t(i)
          JOIN nn ON TRUE
          JOIN r ON r.rn = (i * nn.c + 3) // 4
        )
        SELECT o_orderkey, o_totalprice,
          CASE
            WHEN o_totalprice IS NULL THEN -1
            WHEN o_totalprice <= (SELECT v FROM e WHERE i = 1) THEN 0
            WHEN o_totalprice <= (SELECT v FROM e WHERE i = 2) THEN 1
            WHEN o_totalprice <= (SELECT v FROM e WHERE i = 3) THEN 2
            ELSE 3
          END AS bin
        FROM orders
    """

    # --- priority_sample_per_source: DLT priority sampling — priority =
    # weight / u with u = (md5-hex-1-8 + 1)/2^32, top-10 per source,
    # τ = the 11th priority, estimator term = max(weight, τ) ------------
    sql["priority_sample_per_source"] = """
        WITH w AS (
          SELECT source, doc_id, CAST(n_chars AS BIGINT) AS weight,
                 CAST(n_chars AS DOUBLE) /
                   ((CAST(('0x' || substr(
                       md5('ps:' || CAST(doc_id AS VARCHAR)), 1, 8))
                     AS BIGINT) + 1) / 4294967296.0) AS priority
          FROM documents
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY source ORDER BY priority DESC, doc_id
                 ) AS rn
          FROM w
        ), t AS (
          SELECT *, MAX(CASE WHEN rn = 11 THEN priority END)
                      OVER (PARTITION BY source) AS tau
          FROM r WHERE rn <= 11
        )
        SELECT source, CAST(doc_id AS VARCHAR) AS doc_id, weight,
               priority, CAST(rn AS BIGINT) AS rank,
               GREATEST(CAST(weight AS DOUBLE), COALESCE(tau, 0.0))
                 AS est_weight
        FROM t WHERE rn <= 10
    """

    # --- nb_langid_confusion: same hashed buckets (md5 hex 1-8 mod B),
    # same smoothed-likelihood rationals, same expression order in the
    # score, rounded-rank argmax with label tie-break -------------------
    sql["nb_langid_confusion"] = """
        WITH feats AS (
          SELECT doc_id, source,
                 CAST(('0x' || substr(md5(substring(text, u.i, 2)), 1, 8))
                      AS BIGINT) % 256 AS b
          FROM documents, unnest(range(1, length(text))) AS u(i)
        ), cnt AS (
          SELECT source AS label, b, CAST(COUNT(*) AS BIGINT) AS c
          FROM feats GROUP BY 1, 2
        ), tot AS (
          SELECT label, CAST(SUM(c) AS BIGINT) AS t_label
          FROM cnt GROUP BY 1
        ), dpl AS (
          SELECT source AS label, CAST(COUNT(*) AS BIGINT) AS nd
          FROM documents GROUP BY 1
        ), nall AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents
        ), labs AS (
          -- docs_per drives the label set (engine's LEFT join): a
          -- feature-less label keeps its prior with t_label = 0
          SELECT d.label, COALESCE(t.t_label, 0) AS t_label,
                 ln(d.nd / CAST(nall.n AS DOUBLE)) AS ln_prior,
                 ln(1.0) - ln(COALESCE(t.t_label, 0) + 1.0 * 256)
                   AS ln_unseen
          FROM dpl d LEFT JOIN tot t USING (label) CROSS JOIN nall
        ), bks AS (
          SELECT DISTINCT b FROM cnt
        ), model AS (
          SELECT l.label, k.b,
                 ln(COALESCE(c.c, 0) + 1.0)
                   - ln(l.t_label + 1.0 * 256) AS log_p,
                 l.ln_prior, l.ln_unseen
          FROM labs l CROSS JOIN bks k
          LEFT JOIN cnt c ON c.label = l.label AND c.b = k.b
        ), tf AS (
          SELECT doc_id, b, CAST(COUNT(*) AS BIGINT) AS tf
          FROM feats GROUP BY 1, 2
        ), pd AS (
          SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_feat
          FROM tf GROUP BY 1
        ), mt AS (
          SELECT tf.doc_id, m.label,
                 SUM(tf.tf * m.log_p) AS m,
                 CAST(SUM(tf.tf) AS BIGINT) AS covered
          FROM tf JOIN model m USING (b)
          GROUP BY 1, 2
        ), sc AS (
          SELECT d.doc_id, l.label,
                 l.ln_prior + COALESCE(mt.m, 0.0)
                   + (COALESCE(pd.n_feat, 0) - COALESCE(mt.covered, 0))
                     * l.ln_unseen AS score
          FROM documents d
          CROSS JOIN labs l
          LEFT JOIN pd ON pd.doc_id = d.doc_id
          LEFT JOIN mt ON mt.doc_id = d.doc_id AND mt.label = l.label
        ), pred AS (
          SELECT doc_id, label AS predicted FROM (
            SELECT doc_id, label, ROW_NUMBER() OVER (
              PARTITION BY doc_id
              ORDER BY ROUND(score, 6) DESC, label ASC) AS rn
            FROM sc
          ) WHERE rn = 1
        )
        SELECT d.source, p.predicted,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM documents d JOIN pred p USING (doc_id)
        GROUP BY 1, 2
        ORDER BY 1, 2
    """

    # --- ngram_novelty_per_source: same md5-of-word-digest gram ids,
    # first occurrence = ROW_NUMBER over (doc_id, start) per (n, gh) ---
    _NOV_MAX = 8
    _nov_leads = ",\n                 ".join(
        f"lead(h, {k}) OVER wd AS h{k}" for k in range(1, _NOV_MAX)
    )
    _nov_grams = "\n          UNION ALL\n".join(
        [
            "          SELECT source, doc_id, start, 1 AS n, h AS gh"
            "\n          FROM lds"
        ]
        + [
            "          SELECT source, doc_id, start, {n} AS n,\n"
            "                 md5({hh}) AS gh\n"
            "          FROM lds WHERE h{nm1} IS NOT NULL".format(
                n=n,
                hh=" || ' ' || ".join(
                    ["h"] + [f"h{k}" for k in range(1, n)]
                ),
                nm1=n - 1,
            )
            for n in range(2, _NOV_MAX + 1)
        ]
    )
    sql["ngram_novelty_per_source"] = f"""
        WITH ww AS (
          SELECT source, doc_id, string_split(text, ' ') AS ws
          FROM documents
        ), wx AS (
          SELECT source, doc_id, u.i, md5(ws[u.i + 1]) AS h,
                 length(ws[u.i + 1]) AS wl
          FROM ww, unnest(range(0, len(ws))) AS u(i)
        ), ws2 AS (
          SELECT source, doc_id, i, h, wl,
                 COALESCE(SUM(wl + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS start
          FROM wx
        ), lds AS (
          SELECT source, doc_id, start, h,
                 {_nov_leads}
          FROM ws2
          WINDOW wd AS (PARTITION BY doc_id ORDER BY i)
        ), g AS (
{_nov_grams}
        ), fo AS (
          SELECT source, n FROM (
            SELECT source, n, ROW_NUMBER() OVER (
              PARTITION BY n, gh ORDER BY doc_id, start) AS rn
            FROM g
          ) WHERE rn = 1
        ), nov AS (
          SELECT source, n, CAST(COUNT(*) AS BIGINT) AS n_novel
          FROM fo GROUP BY 1, 2
        ), tot AS (
          SELECT source, n, CAST(COUNT(*) AS BIGINT) AS n_occurrences
          FROM g GROUP BY 1, 2
        )
        SELECT t.source, CAST(t.n AS BIGINT) AS n, t.n_occurrences,
               COALESCE(v.n_novel, 0) AS n_novel,
               ROUND(COALESCE(v.n_novel, 0)
                     / CAST(t.n_occurrences AS DOUBLE), 6) AS novel_frac
        FROM tot t LEFT JOIN nov v USING (source, n)
        ORDER BY source, n
    """

    # --- gpt3_window_decontaminate: gram ids are md5-of-word-digests on
    # both sides (the engine's convention), eval set derived in-query
    # from %23 docs' words 4..16, identical window/piece arithmetic ----
    _N13 = 13
    _lead13 = ",\n                 ".join(
        f"lead(h, {k}) OVER wd AS h{k}, lead(wl, {k}) OVER wd AS l{k}"
        for k in range(1, _N13)
    )
    _gh13 = " || ' ' || ".join(["h"] + [f"h{k}" for k in range(1, _N13)])
    _gl13 = "wl + " + " + ".join(
        f"l{k}" for k in range(1, _N13)
    ) + f" + {_N13 - 1}"
    sql["gpt3_window_decontaminate"] = f"""
        WITH b AS (
          SELECT doc_id, text AS t, length(text) AS len FROM documents
        ), ev AS (
          SELECT doc_id,
                 array_to_string(
                   list_slice(string_split(text, ' '), 4, 16), ' ') AS t
          FROM documents WHERE doc_id % 23 = 0
        ), eww AS (
          SELECT doc_id, string_split(t, ' ') AS ws FROM ev
        ), ewx AS (
          SELECT doc_id, u.i, md5(ws[u.i + 1]) AS h,
                 length(ws[u.i + 1]) AS wl
          FROM eww, unnest(range(0, len(ws))) AS u(i)
        ), elds AS (
          SELECT doc_id, h, wl,
                 {_lead13}
          FROM ewx
          WINDOW wd AS (PARTITION BY doc_id ORDER BY i)
        ), eg AS (
          SELECT DISTINCT md5({_gh13}) AS gh
          FROM elds WHERE h{_N13 - 1} IS NOT NULL
        ), ww AS (
          SELECT doc_id, string_split(t, ' ') AS ws FROM b
        ), wx AS (
          SELECT doc_id, u.i, md5(ws[u.i + 1]) AS h,
                 length(ws[u.i + 1]) AS wl
          FROM ww, unnest(range(0, len(ws))) AS u(i)
        ), ws2 AS (
          SELECT doc_id, i, h, wl,
                 COALESCE(SUM(wl + 1) OVER (
                   PARTITION BY doc_id ORDER BY i
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS start
          FROM wx
        ), lds AS (
          SELECT doc_id, start, h, wl,
                 {_lead13}
          FROM ws2
          WINDOW wd AS (PARTITION BY doc_id ORDER BY i)
        ), g AS (
          SELECT doc_id, start, md5({_gh13}) AS gh, {_gl13} AS gl
          FROM lds WHERE h{_N13 - 1} IS NOT NULL
        ), hits AS (
          SELECT g.doc_id,
                 GREATEST(g.start - 60, 0) AS s,
                 LEAST(g.start + g.gl + 60, b.len) AS e
          FROM g JOIN eg USING (gh) JOIN b USING (doc_id)
        ), isl AS (
          SELECT doc_id, s, e,
                 CASE WHEN s > COALESCE(MAX(e) OVER (
                   PARTITION BY doc_id ORDER BY s, e
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), -1) THEN 1 ELSE 0 END AS ni
          FROM hits
        ), isl2 AS (
          SELECT doc_id, s, e,
                 SUM(ni) OVER (PARTITION BY doc_id ORDER BY s, e) AS grp
          FROM isl
        ), merged AS (
          SELECT doc_id, MIN(s) AS s, MAX(e) AS e
          FROM isl2 GROUP BY doc_id, grp
        ), before AS (
          SELECT doc_id,
                 COALESCE(LAG(e) OVER (
                   PARTITION BY doc_id ORDER BY s), 0) AS ps,
                 s AS pe
          FROM merged
        ), tail_ AS (
          SELECT m.doc_id, MAX(m.e) AS ps, ANY_VALUE(b.len) AS pe
          FROM merged m JOIN b USING (doc_id) GROUP BY m.doc_id
        ), pieces AS (
          SELECT p.doc_id, p.ps,
                 substring(b.t, CAST(p.ps + 1 AS INT),
                           CAST(p.pe - p.ps AS INT)) AS text,
                 p.pe - p.ps AS n_chars
          FROM (SELECT * FROM before UNION ALL SELECT * FROM tail_) p
          JOIN b USING (doc_id)
          WHERE p.pe > p.ps AND p.pe - p.ps >= 40
        ), capped AS (
          SELECT doc_id, ps, text, n_chars,
                 COUNT(*) OVER (PARTITION BY doc_id) AS np,
                 ROW_NUMBER() OVER (
                   PARTITION BY doc_id ORDER BY ps) - 1 AS piece_idx
          FROM pieces
        ), contaminated AS (
          SELECT doc_id, CAST(piece_idx AS BIGINT) AS piece_idx, text,
                 CAST(n_chars AS BIGINT) AS n_chars, TRUE AS contaminated
          FROM capped WHERE np <= 10
        ), untouched AS (
          SELECT b.doc_id, CAST(0 AS BIGINT) AS piece_idx, b.t AS text,
                 CAST(b.len AS BIGINT) AS n_chars, FALSE AS contaminated
          FROM b WHERE b.doc_id NOT IN (SELECT doc_id FROM merged)
        )
        SELECT * FROM contaminated
        UNION ALL
        SELECT * FROM untouched
        ORDER BY doc_id, piece_idx
    """

    # --- refinedweb_line_correct: same planted lines, same regex
    # automata (shared Java-regex/RE2 character-class syntax), same
    # integer cross-multiplied document rule -----------------------------
    sql["refinedweb_line_correct"] = """
        WITH p0 AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 7 = 0 THEN text || chr(10) ||
                   'BUY NOW LIMITED TIME OFFER' ELSE text END AS t
          FROM documents
        ), p1 AS (
          SELECT doc_id, CASE WHEN doc_id % 11 = 0 THEN t || chr(10) ||
            '2026-08-18 12:00:05' ELSE t END AS t FROM p0
        ), p2 AS (
          SELECT doc_id, CASE WHEN doc_id % 13 = 0 THEN t || chr(10) ||
            '1234 likes' ELSE t END AS t FROM p1
        ), p3 AS (
          SELECT doc_id, CASE WHEN doc_id % 17 = 0 THEN t || chr(10) ||
            'Login' ELSE t END AS t FROM p2
        ), base AS (
          SELECT doc_id, CASE WHEN doc_id % 41 = 0 THEN
            'SHOUTING HEADLINE ONE' || chr(10) || '99 views' ||
            chr(10) || 'small ok line' ELSE t END AS t FROM p3
        ), k AS (
          SELECT doc_id, t, string_split(t, chr(10)) AS ls,
                 list_filter(string_split(t, chr(10)), x -> NOT (
                   ((length(x) - length(regexp_replace(x, '[A-Z]', '', 'g')))
                      * 2
                    > (length(x)
                       - length(regexp_replace(x, '[A-Za-z]', '', 'g')))
                    AND regexp_matches(x, '[A-Za-z]'))
                   OR (regexp_matches(x, '^[-0-9 .,:%/]+$')
                       AND regexp_matches(x, '[0-9]'))
                   OR regexp_matches(lower(trim(x)),
                      '^[0-9]+ (likes|comments|shares|views|retweets|followers)$')
                   OR list_contains(['home','menu','login','register',
                                     'share','print','subscribe'],
                                    lower(trim(x)))
                 )) AS kl
          FROM base
        ), r AS (
          SELECT doc_id,
                 COALESCE(array_to_string(kl, chr(10)), '') AS kept,
                 len(ls) AS nl, len(kl) AS nk,
                 length(t) AS tc
          FROM k
        )
        SELECT doc_id, kept AS text,
               CAST(nk AS BIGINT) AS n_lines_kept,
               CAST(nl - nk AS BIGINT) AS n_lines_removed,
               ROUND((tc - length(kept)) / CAST(GREATEST(tc, 1) AS DOUBLE),
                     6) AS removed_char_frac,
               (CASE WHEN (tc - length(kept)) * 100 > 50 * tc
                     THEN 'excess_removal' END) IS NULL AS keep,
               CASE WHEN (tc - length(kept)) * 100 > 50 * tc
                    THEN 'excess_removal' END AS reason
        FROM r
    """

    sql["repetition_scores"] = """
        WITH w AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
          WHERE len(string_split(text, ' ')) >= 2
        ), g AS (
          SELECT doc_id, array_to_string(ws[i + 1 : i + 2], ' ') AS gram
          FROM w, unnest(range(0, len(ws) - 1)) AS u(i)
        ), pg AS (
          SELECT doc_id, gram, COUNT(*) AS c FROM g GROUP BY 1, 2
        )
        SELECT doc_id,
               CAST(SUM(c) AS BIGINT) AS n_2grams,
               CAST(MAX(c) AS BIGINT) AS top_2gram_count,
               ROUND(CAST(MAX(c) AS DOUBLE) / SUM(c), 6) AS top2_frac,
               ROUND(CAST(COUNT(*) AS DOUBLE) / SUM(c), 6) AS distinct_frac
        FROM pg GROUP BY doc_id
    """

    from bloomine_spark.operators.textops import PII_PATTERNS as _PII

    _pii = dict(_PII)
    sql["scrub_pii"] = f"""
        WITH planted AS (
          SELECT doc_id,
                 CASE WHEN doc_id % 50 = 0 THEN
                   concat(text, ' contact user', CAST(doc_id AS VARCHAR),
                          '@example.com from 10.0.0.1 call 555-123-4567')
                 ELSE text END AS t0
          FROM documents
        ), s1 AS (
          SELECT doc_id,
                 CAST(len(regexp_extract_all(t0, '{_pii["email"]}')) AS BIGINT)
                   AS n_email,
                 regexp_replace(t0, '{_pii["email"]}', '<EMAIL>', 'g') AS t1
          FROM planted
        ), s2 AS (
          SELECT doc_id, n_email,
                 CAST(len(regexp_extract_all(t1, '{_pii["ipv4"]}')) AS BIGINT)
                   AS n_ipv4,
                 regexp_replace(t1, '{_pii["ipv4"]}', '<IPV4>', 'g') AS t2
          FROM s1
        )
        SELECT doc_id,
               regexp_replace(t2, '{_pii["phone"]}', '<PHONE>', 'g')
                 AS clean_text,
               n_email, n_ipv4,
               CAST(len(regexp_extract_all(t2, '{_pii["phone"]}')) AS BIGINT)
                 AS n_phone
        FROM s2
    """

    sql["distinct_tokens_setops_exact"] = """
        WITH a AS (
          SELECT DISTINCT unnest(string_split(text, ' ')) AS w
          FROM documents WHERE source = 'src0'
        ), b AS (
          SELECT DISTINCT unnest(string_split(text, ' ')) AS w
          FROM documents WHERE source = 'src1'
        )
        SELECT (SELECT COUNT(*) FROM a) AS n_a,
               (SELECT COUNT(*) FROM b) AS n_b,
               (SELECT COUNT(*) FROM (SELECT w FROM a UNION SELECT w FROM b))
                 AS n_union,
               (SELECT COUNT(*) FROM
                 (SELECT w FROM a INTERSECT SELECT w FROM b)) AS n_intersect,
               (SELECT COUNT(*) FROM
                 (SELECT w FROM a EXCEPT SELECT w FROM b)) AS n_a_not_b
    """

    sql["jaccard_sources_exact"] = """
        WITH g AS (
          SELECT DISTINCT source,
                 words[i] || ' ' || words[i+1] || ' ' || words[i+2] AS gram
          FROM (SELECT source, string_split(text, ' ') AS words
                FROM documents
                WHERE source IN ('src0','src1','src2','src3')),
               UNNEST(range(1, len(words) - 1)) AS t(i)
          WHERE len(words) >= 3
        ),
        sz AS (SELECT source, COUNT(*) AS n FROM g GROUP BY source),
        inter AS (
          SELECT a.source sa, b.source sb, COUNT(*) ni
          FROM g a JOIN g b ON a.gram = b.gram AND a.source < b.source
          GROUP BY a.source, b.source
        )
        SELECT sa AS source_a, sb AS source_b,
               ROUND(ni / (x.n + y.n - ni), 6) AS jaccard
        FROM inter JOIN sz x ON x.source = sa JOIN sz y ON y.source = sb
        ORDER BY source_a, source_b
    """

    sql["regional_revenue"] = """
        SELECT n_name,
               CAST(ROUND(SUM(CAST(l_extendedprice * (1 - l_discount)
                                   AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_lineitems
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON s_nationkey = n_nationkey
        WHERE c_nationkey = s_nationkey
        GROUP BY n_name
    """

    # --- temporal/event-sequence family --------------------------------
    # as-of attribution: DuckDB's NATIVE ASOF JOIN is the oracle — an
    # independent implementation of the same inclusive backward-match
    # semantics the union+window plan computes
    sql["asof_click_attribution"] = """
        SELECT p.event_id, p.user_id, p.ts, p.value,
               c.ts AS click_ts, c.event_id AS click_event_id,
               c.value AS click_value,
               CASE WHEN c.ts IS NOT NULL
                    THEN epoch_us(p.ts) - epoch_us(c.ts) END AS gap_us
        FROM (SELECT * FROM events WHERE event_type = 'purchase') p
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c
          ON p.user_id = c.user_id AND p.ts >= c.ts
    """

    # funnel: greedy earliest-completion replay — each stage is the MIN
    # candidate strictly after the previous stage within the 48 h window
    # of stage 1 (172800000000 us)
    sql["funnel_signup_click_purchase"] = """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t1 FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ), s2 AS (
          SELECT s1.user_id, MIN(e.ts) AS t2
          FROM s1 JOIN events e ON e.user_id = s1.user_id
          WHERE e.event_type = 'click' AND e.ts > s1.t1
            AND epoch_us(e.ts) - epoch_us(s1.t1) <= 172800000000
          GROUP BY s1.user_id
        ), s3 AS (
          SELECT s1.user_id, MIN(e.ts) AS t3
          FROM s1 JOIN s2 ON s2.user_id = s1.user_id
          JOIN events e ON e.user_id = s1.user_id
          WHERE e.event_type = 'purchase' AND e.ts > s2.t2
            AND epoch_us(e.ts) - epoch_us(s1.t1) <= 172800000000
          GROUP BY s1.user_id
        )
        SELECT s1.user_id, s1.t1, s2.t2, s3.t3,
               CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                      + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END
                    AS INT) AS n_steps
        FROM s1
        LEFT JOIN s2 ON s2.user_id = s1.user_id
        LEFT JOIN s3 ON s3.user_id = s1.user_id
    """

    # retention cohorts: integer week indices from the fixed epoch — the
    # identical floor(datediff/7) arithmetic on both engines
    sql["retention_weekly_cohorts"] = """
        WITH ev AS (
          SELECT * FROM events WHERE event_id % 20 = 0
        ), f AS (
          SELECT user_id, MIN(ts) AS ft FROM ev GROUP BY user_id
        ), wk AS (
          SELECT e.user_id,
            CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                                 CAST(f.ft AS DATE)) / 7) AS INT)
              AS cohort_week,
            CAST(FLOOR(date_diff('day', DATE '2024-01-01',
                                 CAST(e.ts AS DATE)) / 7)
               - FLOOR(date_diff('day', DATE '2024-01-01',
                                 CAST(f.ft AS DATE)) / 7) AS INT)
              AS week_offset
          FROM ev e JOIN f ON f.user_id = e.user_id
        )
        SELECT cohort_week, week_offset,
               COUNT(DISTINCT user_id) AS n_users, COUNT(*) AS n_events
        FROM wk GROUP BY cohort_week, week_offset
    """

    sql["events_rollup_day"] = """
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day, value FROM events
        )
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
               COUNT(*) AS n_events,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS sum_value
        FROM d GROUP BY ROLLUP(event_type, day)
    """

    # --- corpus-analytics family ----------------------------------------
    # PMI + Dunning G² from the one bigram-type relation; identical
    # left-associated float sequences on both engines
    sql["pmi_collocations_topk"] = """
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        big AS (
          SELECT ws[i+1] AS w1, ws[i+2] AS w2, COUNT(*) AS c12
          FROM t, unnest(range(0, len(ws) - 1)) AS u(i)
          GROUP BY 1, 2
        ),
        m1 AS (SELECT w1, SUM(c12) AS c1 FROM big GROUP BY w1),
        m2 AS (SELECT w2, SUM(c12) AS c2 FROM big GROUP BY w2),
        nn AS (SELECT CAST(SUM(c12) AS DOUBLE) AS N FROM big),
        sc AS (
          SELECT b.w1, b.w2, b.c12,
                 CAST(m1.c1 AS BIGINT) AS c1, CAST(m2.c2 AS BIGINT) AS c2,
            ln(b.c12 * N / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE)))
              AS pmi,
            2.0 * (
              CASE WHEN b.c12 > 0 THEN b.c12 * ln(b.c12 * N
                / (CAST(m1.c1 AS DOUBLE) * CAST(m2.c2 AS DOUBLE)))
                ELSE 0 END
            + CASE WHEN m1.c1 - b.c12 > 0 THEN (m1.c1 - b.c12)
                * ln((m1.c1 - b.c12) * N
                     / (CAST(m1.c1 AS DOUBLE) * (N - m2.c2)))
                ELSE 0 END
            + CASE WHEN m2.c2 - b.c12 > 0 THEN (m2.c2 - b.c12)
                * ln((m2.c2 - b.c12) * N
                     / ((N - m1.c1) * CAST(m2.c2 AS DOUBLE)))
                ELSE 0 END
            + CASE WHEN N - m1.c1 - m2.c2 + b.c12 > 0
                THEN (N - m1.c1 - m2.c2 + b.c12)
                * ln((N - m1.c1 - m2.c2 + b.c12) * N
                     / ((N - m1.c1) * (N - m2.c2)))
                ELSE 0 END
            ) AS llr
          FROM big b JOIN m1 USING (w1) JOIN m2 USING (w2), nn
          WHERE b.c12 >= 5
        ),
        r AS (SELECT *, ROW_NUMBER() OVER (
                ORDER BY round(llr, 6) DESC, w1, w2) AS rank FROM sc)
        SELECT w1, w2, c12, c1, c2, pmi, llr, CAST(rank AS INT) AS rank
        FROM r WHERE rank <= 50
    """

    # phrase search: the phrase-word relation is the SAME module constant
    _ph_vals = ", ".join(
        f"({pid}, '{ph}', {len(ph.split())}, {i}, '{w}')"
        for pid, ph in enumerate(PHRASE_QUERIES)
        for i, w in enumerate(ph.split())
    )
    sql["phrase_search_docs"] = f"""
        WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        w AS (SELECT doc_id, i AS pos, ws[i+1] AS w
              FROM t, unnest(range(0, len(ws))) AS u(i)),
        ph(phrase_id, phrase, k, i, pw) AS (VALUES {_ph_vals}),
        cand AS (
          SELECT p.phrase, p.k, w.doc_id, w.pos - p.i AS start
          FROM w JOIN ph p ON p.pw = w.w
          WHERE w.pos - p.i >= 0
        ),
        hit AS (
          SELECT phrase, doc_id, start
          FROM cand GROUP BY phrase, k, doc_id, start
          HAVING COUNT(*) = k
        )
        SELECT phrase, doc_id, COUNT(*) AS n_occurrences,
               MIN(start) AS first_pos
        FROM hit GROUP BY phrase, doc_id
    """

    # readability: the oracle replants the SAME position-moduli
    # terminators, then identical integer sums + pinned double sequence
    sql["readability_per_source"] = """
        WITH t AS (SELECT source, doc_id, string_split(text, ' ') AS ws
                   FROM documents),
        w AS (
          SELECT source, doc_id, i,
            CASE WHEN i % 8 = 7 THEN ws[i+1] || '.'
                 WHEN i % 19 = 18 THEN ws[i+1] || '!'
                 ELSE ws[i+1] END AS w
          FROM t, unnest(range(0, len(ws))) AS u(i)
        ),
        d AS (
          SELECT source, doc_id, string_agg(w, ' ' ORDER BY i) AS text2
          FROM w GROUP BY source, doc_id
        ),
        feats AS (
          SELECT source,
            len(string_split(text2, ' ')) AS nw,
            GREATEST(1, len(regexp_extract_all(text2, '[.!?]+'))) AS ns,
            len(regexp_extract_all(text2, '[aeiouy]+'))
              + len(list_filter(string_split(text2, ' '),
                                x -> NOT regexp_matches(x, '[aeiouy]')))
              AS sy
          FROM d
        ),
        agg AS (
          SELECT source, CAST(SUM(nw) AS BIGINT) AS n_words,
                 CAST(SUM(ns) AS BIGINT) AS n_sentences,
                 CAST(SUM(sy) AS BIGINT) AS n_syllables
          FROM feats GROUP BY source
        )
        SELECT source, n_words, n_sentences, n_syllables,
          206.835 - 1.015 * (CAST(n_words AS DOUBLE) / n_sentences)
                  - 84.6 * (CAST(n_syllables AS DOUBLE) / n_words)
            AS flesch_reading_ease,
          0.39 * (CAST(n_words AS DOUBLE) / n_sentences)
            + 11.8 * (CAST(n_syllables AS DOUBLE) / n_words) - 15.59
            AS fk_grade
        FROM agg
    """

    # containment: the jaccard oracle's skeleton, both directions kept
    sql["ngram_containment_pairs"] = """
        WITH d AS (
          SELECT doc_id AS id, string_split(text, ' ') AS toks FROM documents
          WHERE len(string_split(text, ' ')) >= 3
        ), s AS (
          SELECT DISTINCT id, array_to_string(toks[i + 1 : i + 3], ' ') AS g
          FROM d, unnest(range(0, len(toks) - 2)) AS u(i)
        ), capped AS (
          SELECT id, g FROM (
            SELECT id, g, COUNT(*) OVER (PARTITION BY g) AS df FROM s
          ) WHERE df <= 100
        ), sz AS (
          SELECT id, COUNT(*) AS sz FROM capped GROUP BY id
        ), inter AS (
          SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
          FROM capped a JOIN capped b ON a.g = b.g AND a.id < b.id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b, inter, x.sz AS sz_a, y.sz AS sz_b,
               ROUND(inter * 1.0 / x.sz, 6) AS c_a_in_b,
               ROUND(inter * 1.0 / y.sz, 6) AS c_b_in_a
        FROM inter JOIN sz x ON id_a = x.id JOIN sz y ON id_b = y.id
        WHERE GREATEST(ROUND(inter * 1.0 / x.sz, 6),
                       ROUND(inter * 1.0 / y.sz, 6)) >= 0.7
    """

    # Monroe log-odds keyness: identical pinned double sequence over the
    # same integer count relations (aw = 10*cw/N inlined on both engines)
    sql["distinctive_terms_per_source"] = """
        WITH tok AS (
          SELECT source AS grp, unnest(string_split(text, ' ')) AS word
          FROM documents
        ), swc AS MATERIALIZED (
          SELECT grp, word, COUNT(*) AS y1 FROM tok GROUP BY 1, 2
        ), wc AS (
          SELECT word, CAST(SUM(y1) AS BIGINT) AS cw FROM swc GROUP BY word
        ), ng AS (
          SELECT grp, CAST(SUM(y1) AS BIGINT) AS n1 FROM swc GROUP BY grp
        ), nn AS (
          SELECT CAST(SUM(y1) AS DOUBLE) AS N FROM swc
        ), j AS (
          SELECT s.grp, s.word, s.y1, w.cw, g.n1, N,
                 10.0 * w.cw / N AS aw
          FROM swc s JOIN wc w USING (word) JOIN ng g USING (grp), nn
        ), sc AS (
          SELECT grp AS source, word, y1 AS c_in, cw - y1 AS c_out,
            (ln((y1 + aw) / (n1 + 10.0 - y1 - aw))
             - ln(((cw - y1) + aw) / ((N - n1) + 10.0 - (cw - y1) - aw)))
            / sqrt(1.0 / (y1 + aw) + 1.0 / ((cw - y1) + aw)) AS z
          FROM j
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY source
                      ORDER BY round(z, 6) DESC, word) AS rank
          FROM sc
        )
        SELECT source, word, c_in, c_out, z, CAST(rank AS BIGINT) AS rank
        FROM r WHERE rank <= 10
    """

    # --- linkage / robust-stats / cube family ----------------------------
    sql["events_cube_day"] = """
        WITH d AS (
          SELECT event_type, CAST(ts AS DATE) AS day, user_id, value
          FROM events
        )
        SELECT COALESCE(event_type, 'ALL') AS event_type,
               COALESCE(CAST(day AS VARCHAR), 'ALL') AS day,
               COUNT(*) AS n_events,
               COUNT(DISTINCT user_id) AS n_users,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 4) AS DOUBLE)
                 AS sum_value
        FROM d GROUP BY CUBE(event_type, day)
    """

    # the linkage fixture: documents + last-char typo variants (%7);
    # blocking key = first word (the typo edits the tail, so original
    # and variant always share a block); banded levenshtein <= 2
    _linkage_rel = """
        base AS (
          SELECT doc_id AS id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000,
                 substr(text, 1, length(text) - 1) || 'x'
          FROM documents WHERE doc_id % 7 = 0
        ), rel AS (
          SELECT id, text AS txt, block_key FROM (
            SELECT id, text, string_split(text, ' ')[1] AS block_key
            FROM base
          ) WHERE block_key IS NOT NULL AND block_key <> ''
        )
    """
    # the abs(length diff) <= 2 prefilter mirrors the operator's SSJoin
    # length filter — semantics-preserving (necessary condition for the
    # threshold), and it keeps the oracle's FULL levenshtein off the
    # overwhelming majority of block pairs
    sql["fuzzy_edit_pairs_docs"] = f"""
        WITH {_linkage_rel}
        SELECT id_a, id_b, block_key, dist FROM (
          SELECT a.id AS id_a, b.id AS id_b, a.block_key,
                 levenshtein(a.txt, b.txt) AS dist
          FROM rel a JOIN rel b
            ON a.block_key = b.block_key AND a.id < b.id
           AND abs(length(a.txt) - length(b.txt)) <= 2
        ) WHERE dist <= 2
    """

    sql["er_canonical_docs"] = f"""
        WITH RECURSIVE {_linkage_rel}, pairs AS (
          SELECT id_a, id_b FROM (
            SELECT a.id AS id_a, b.id AS id_b,
                   levenshtein(a.txt, b.txt) AS dist
            FROM rel a JOIN rel b
              ON a.block_key = b.block_key AND a.id < b.id
             AND abs(length(a.txt) - length(b.txt)) <= 2
          ) WHERE dist <= 2
        ), edges AS (
          SELECT id_a AS u, id_b AS v FROM pairs
          UNION SELECT id_b, id_a FROM pairs
        ), reach AS (
          SELECT u, v FROM edges
          UNION
          SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
        ), comp AS (
          SELECT u AS id, LEAST(u, MIN(v)) AS comp FROM reach GROUP BY u
        ), csize AS (
          SELECT comp, COUNT(*) AS n FROM comp GROUP BY comp
        )
        SELECT CAST(b.id AS VARCHAR) AS doc_id,
               CAST(COALESCE(c.comp, b.id) AS VARCHAR) AS group_id,
               CAST(COALESCE(cs.n, 1) AS BIGINT) AS group_size,
               (c.comp IS NULL OR b.id = c.comp) AS keep
        FROM base b
        LEFT JOIN comp c ON b.id = c.id
        LEFT JOIN csize cs ON c.comp = cs.comp
    """

    # OpenRefine fingerprint: lower -> punct to spaces (GLOBAL flag — the
    # DuckDB default replaces only the first match) -> split -> drop
    # empties -> sort -> dedup -> single-space join
    sql["fingerprint_clusters_docs"] = """
        WITH base AS (
          SELECT doc_id AS id, text FROM documents
          UNION ALL
          SELECT doc_id + 2000000,
                 array_to_string([upper(ws[2]), ws[1],
                   COALESCE(array_to_string(ws[3:], ' '), '') || '.'], ' ')
          FROM (SELECT doc_id, string_split(text, ' ') AS ws
                FROM documents WHERE doc_id % 11 = 0)
        ), fp AS (
          SELECT id,
            array_to_string(list_sort(list_distinct(list_filter(
              string_split_regex(
                regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                ' +'),
              x -> x <> ''))), ' ') AS fingerprint
          FROM base
        )
        SELECT CAST(id AS VARCHAR) AS id, fingerprint,
               COUNT(*) OVER (PARTITION BY fingerprint) AS cluster_size,
               CAST(MIN(id) OVER (PARTITION BY fingerprint) AS VARCHAR)
                 AS canonical_id,
               id = MIN(id) OVER (PARTITION BY fingerprint) AS keep
        FROM fp
    """

    # robust stats: exact median/MAD + Iglewicz-Hoaglin modified z —
    # identical pinned double sequence (0.6745*(x-med)/mad, round 6)
    sql["mad_outlier_docs"] = """
        WITH v AS (
          SELECT source AS grp, doc_id AS id,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS value
          FROM documents
        ), m AS (
          SELECT grp, median(value) AS med FROM v GROUP BY grp
        ), md AS (
          SELECT v.grp, median(abs(v.value - m.med)) AS mad
          FROM v JOIN m USING (grp) GROUP BY v.grp
        ), scored AS (
          SELECT v.grp, v.id, v.value, m.med, md.mad,
                 CASE WHEN md.mad <> 0
                   THEN 0.6745 * (v.value - m.med) / md.mad
                 END AS mz
          FROM v JOIN m USING (grp) JOIN md ON v.grp = md.grp
        )
        SELECT grp AS "group", id, value, med, mad, mz,
               COALESCE(abs(mz) > 3.5, FALSE) AS is_outlier
        FROM scored
    """

    # winsorization audit: quantile_cont shares Spark percentile()'s
    # (n-1)*p linear interpolation; tail counts are integer-exact
    sql["winsorize_stats_docs"] = """
        WITH v AS (
          SELECT source,
                 CAST(len(string_split(text, ' ')) AS DOUBLE) AS value
          FROM documents
        ), q AS (
          SELECT source, quantile_cont(value, 0.01) AS p_lo,
                 quantile_cont(value, 0.99) AS p_hi
          FROM v GROUP BY source
        )
        SELECT v.source, COUNT(*) AS n,
               round(ANY_VALUE(p_lo), 6) AS p_lo,
               round(ANY_VALUE(p_hi), 6) AS p_hi,
               CAST(SUM(CASE WHEN value < p_lo THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_below,
               CAST(SUM(CASE WHEN value > p_hi THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_above
        FROM v JOIN q USING (source) GROUP BY v.source
    """

    # --- time-series / SCD2 family ----------------------------------------
    # RANGE frame over exact integer microseconds (epoch_us mirrors
    # Spark's unix_micros); the sum is an exact decimal
    sql["rolling_user_value_7d"] = """
        WITH e AS (
          SELECT event_id, user_id, ts, value, epoch_us(ts) AS us
          FROM events
        )
        SELECT event_id, user_id, ts, value,
               COUNT(*) OVER w AS roll_n,
               CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))) OVER w, 4)
                    AS DOUBLE) AS roll_sum,
               MIN(value) OVER w AS roll_min,
               MAX(value) OVER w AS roll_max
        FROM e
        WINDOW w AS (PARTITION BY user_id ORDER BY us
                     RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW)
    """

    # EWMA: the SAME fixed left-to-right 40-term double sequence the
    # operator builds (j = 39 .. 0, freshest term adds last); weight
    # literals via repr() round-trip to the identical doubles
    _alpha = 0.3
    _num = "0.0"
    _den = "0.0"
    for _j in range(39, -1, -1):
        _w = repr(_alpha * (1.0 - _alpha) ** _j)
        _num += (
            f"\n            + COALESCE(lag(value, {_j}) OVER w * {_w}, 0.0)"
        )
        _den += (
            f"\n            + CASE WHEN lag(value, {_j}) OVER w IS NOT NULL"
            f" THEN {_w} ELSE 0.0 END"
        )
    sql["ewma_user_value"] = f"""
        SELECT event_id, user_id, ts, value,
               ({_num})
               / ({_den}) AS ewma
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)
    """

    # SCD2: lag change-detect -> conditional cumsum islands -> interval
    # fold -> lead(valid_from); value is constant within an island so
    # MIN(value) == the operator's first(value)
    sql["scd2_user_state"] = """
        WITH c AS (
          SELECT user_id AS key, ts, event_type AS value,
                 lag(event_type) OVER (PARTITION BY user_id ORDER BY ts)
                   AS prev
          FROM events
        ), f AS (
          SELECT key, ts, value,
                 SUM(CASE WHEN prev IS NULL OR value IS DISTINCT FROM prev
                          THEN 1 ELSE 0 END)
                   OVER (PARTITION BY key ORDER BY ts
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS isl
          FROM c
        ), g AS (
          SELECT key, isl, MIN(value) AS state, MIN(ts) AS valid_from
          FROM f GROUP BY key, isl
        )
        SELECT key AS user_id, state AS value, valid_from,
               lead(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
                 AS valid_to,
               lead(valid_from) OVER (PARTITION BY key ORDER BY valid_from)
                 IS NULL AS is_current
        FROM g
    """

    # incremental SCD2: the oracle IS the full-log rebuild — the
    # maintenance invariant apply(intervals(log1), log2) ==
    # intervals(log1+log2) is what the hash gates
    sql["scd2_apply_user_state"] = sql["scd2_user_state"]

    # Morton interleave: identical 10-bit shift/mask fold on both engines
    _zterms = " + ".join(
        f"(((gx >> {b}) & 1) << {2 * b}) + (((gy >> {b}) & 1) << {2 * b + 1})"
        for b in range(10)
    )
    sql["zorder_key_events"] = f"""
        WITH g AS (
          SELECT event_id,
                 user_id % 1024 AS gx,
                 CAST(floor(value * 10) AS BIGINT) % 1024 AS gy
          FROM events
        )
        SELECT event_id, gx, gy, {_zterms} AS z FROM g
    """

    return sql
