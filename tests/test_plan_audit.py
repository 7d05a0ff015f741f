"""Plan regressions: pruning, pushdown, shuffle counts, join strategies.
These guard the properties that make the engine viable at 100 TB —
a silently-unpruned column or an accidental cartesian fails here."""

import os

import pytest
from pyspark.sql import functions as F

from bloomine_spark.plans.audit import (
    assert_columns_pruned,
    assert_filter_pushed,
    assert_max_exchanges,
    assert_no_cartesian,
    plan_facts,
)

SF = "/root/testdata/sf0.001"
needs_data = pytest.mark.skipif(not os.path.isdir(SF), reason="testdata absent")


@needs_data
def test_screen_prunes_unused_document_columns(spark):
    import __spark_entry__ as em

    q = em.queries()["two_phase_screen"](spark, SF)
    # lang and n_chars are never used → must not reach the parquet scan
    assert_columns_pruned(q, {"lang", "n_chars"})
    facts = plan_facts(q)
    assert facts.has_python_eval  # the kernel really is an Arrow-python node
    # screening is shuffle-free: no Exchange anywhere in the plan
    assert_max_exchanges(q, 0)


@needs_data
def test_pricing_summary_pushdown(spark):
    import __spark_entry__ as em

    q = em.queries()["lineitem_pricing_summary"](spark, SF)
    assert_filter_pushed(q, "l_shipdate")
    assert_columns_pruned(q, {"l_orderkey", "l_partkey", "l_comment"})
    # scan → partial agg → single shuffle → final agg
    assert_max_exchanges(q, 1)


@needs_data
def test_joins_are_not_cartesian(spark):
    import __spark_entry__ as em

    for name in ("regional_revenue", "ngram_jaccard_pairs",
                 "flank_log_merge_events", "argmax_probe_lineitem",
                 "jaccard_sources_exact"):
        q = em.queries()[name](spark, SF)
        assert_no_cartesian(q)


@needs_data
def test_jaccard_sources_exact_pushdown(spark):
    import __spark_entry__ as em

    q = em.queries()["jaccard_sources_exact"](spark, SF)
    assert_filter_pushed(q, "source")          # In(source, [src0..3]) at scan
    assert_columns_pruned(q, {"lang", "n_chars", "doc_id"})


@needs_data
def test_minhash_exact_verify_plan(spark):
    """verify='exact' must stay join-based: no cartesian/BNLJ anywhere in
    the LSH-candidates → shingle-intersection recompute."""
    from bloomine_spark.operators.dedup import minhash_lsh_duplicates
    from bloomine_spark.sources.tables import load_table

    docs = load_table(spark, SF, "documents")
    q = minhash_lsh_duplicates(docs, num_perm=128, bands=None,
                               threshold=0.5, verify="exact")
    assert_no_cartesian(q)


@needs_data
def test_sketch_partials_shuffle_is_narrow(spark):
    """The sketch shuffle carries states, not rows: the exchange sits above
    the python partial node, so what crosses it is one row per
    partition×group."""
    from bloomine_spark.sketch.core import merge_grouped, sketch_partials
    from bloomine_spark.sketch.hll import HyperLogLog
    from bloomine_spark.sources.tables import load_table, tokenize_documents

    seqs = tokenize_documents(load_table(spark, SF, "documents"))
    factory = lambda: HyperLogLog.empty(8)  # noqa: E731
    partials = sketch_partials(seqs, ["source"], "tokens", factory)
    merged = merge_grouped(partials, ["source"], factory)
    facts = plan_facts(merged)
    text = facts.text
    # exactly one exchange, and it is ABOVE the partial fold node
    assert facts.n_exchanges == 1
    assert "MapInPandas" not in text
    assert text.index("Exchange") < text.index("MapInArrow")


@needs_data
def test_bloom_semi_join_plan(spark):
    """The Bloom prefilter must sit below the join (big side pruned before
    the exchange) and the final join must not be cartesian."""
    import __spark_entry__ as em

    q = em.queries()["bloom_semi_join_orders"](spark, SF)
    assert_no_cartesian(q)
    facts = plan_facts(q)
    text = facts.text
    # the Arrow probe node exists and appears below the semi join
    assert "MapInArrow" in text
    assert "LeftSemi" in text or "left_semi" in text.lower()


@needs_data
def test_bloom_relational_screen_plan(spark):
    """The relational Bloom prescreen must keep the bit relation on the
    broadcast side everywhere: every equi-join broadcast-hash (the ≤m-row
    filter and the distinct-gram membership both stay small), no
    sort-merge, no cartesian — the only nested-loop joins are the
    single-row bits_set attach."""
    import __spark_entry__ as em

    q = em.queries()["bloom_relational_screen"](spark, SF)
    facts = plan_facts(q)
    assert "SortMergeJoin" not in facts.join_strategies
    assert "CartesianProduct" not in facts.join_strategies
    assert facts.join_strategies.count("BroadcastHashJoin") >= 3
    assert not facts.has_python_eval  # pure Catalyst, no Python in the plan


@needs_data
def test_curate_training_docs_plan(spark):
    import __spark_entry__ as em

    q = em.queries()["curate_training_docs"](spark, SF)
    assert_no_cartesian(q)


@needs_data
def test_setops_exact_is_one_scan(spark):
    """The U1-U4 exact set-algebra query must read documents ONCE — the
    naive form (5 count() actions over union/intersect/subtract) rescans
    the corpus 5x at 100 TB."""
    import __spark_entry__ as em

    q = em.queries()["distinct_tokens_setops_exact"](spark, SF)
    facts = plan_facts(q)
    assert facts.text.count("Scan parquet") == 1, facts.text


@needs_data
def test_contamination_screen_plan(spark):
    """The decontamination screen's Bloom probe (MapInArrow) must prune
    the exploded train shingles BEFORE the exchange that feeds the exact
    semi-join — at 100 TB the unpruned shingle stream is the whole corpus
    re-keyed, and the probe existing below the join is what keeps that
    off the wire. Also: no cartesian anywhere."""
    import __spark_entry__ as em

    q = em.queries()["contamination_screen"](spark, SF)
    assert_no_cartesian(q)
    facts = plan_facts(q)
    text = facts.text
    assert "MapInArrow" in text
    assert "LeftSemi" in text or "left_semi" in text.lower()
    # the probe sits below (after, in plan text order = above in tree) the
    # exchange: the MapInArrow node must appear deeper than the last
    # Exchange that feeds the semi-join
    probe_at = text.index("MapInArrow")
    assert "Exchange" in text[:probe_at], text


def test_bucketed_hydration_join_has_zero_exchanges(spark, tmp_path):
    """Bucketed co-located join: corpus and hits written bucketed on the
    same (source, doc_id) keys join with NO Exchange and NO Sort on
    either side — the write-once shuffle that makes 100 TB hydration
    (and every later re-join on the same keys) scan-local."""
    import numpy as np
    import pandas as pd

    from bloomine_spark.sources.bucketed import bucketed_join, write_bucketed

    rows = [
        {"doc_id": f"d{i}", "source": f"s{i % 3}",
         "tokens": np.arange(i, i + 5, dtype=np.int32)}
        for i in range(200)
    ]
    corpus = spark.createDataFrame(pd.DataFrame(rows))
    hits = corpus.select("source", "doc_id").limit(50).withColumn(
        "target_id", F.lit("pA")
    )
    write_bucketed(corpus, "ba_corpus", keys=["source", "doc_id"], buckets=8)
    write_bucketed(hits, "ba_hits", keys=["source", "doc_id"], buckets=8)
    # forbid broadcast so the test proves the bucketed SMJ path, not a
    # broadcast fallback
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bucketed_join(spark, "ba_corpus", "ba_hits",
                               keys=["source", "doc_id"])
        assert_max_exchanges(joined, 0)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert joined.count() == 50
        # the unbucketed control DOES exchange both sides
        control = corpus.join(hits, ["source", "doc_id"])
        with pytest.raises(AssertionError):
            assert_max_exchanges(control, 0)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.sql("DROP TABLE IF EXISTS ba_corpus")
        spark.sql("DROP TABLE IF EXISTS ba_hits")


def test_fastq_screen_is_shuffle_free(spark, tmp_path):
    """The raw-file read path keeps the screen's zero-exchange property:
    binaryFile scan → Arrow parse/tokenize → screen kernel, no Exchange
    anywhere (the 100 TB corpus never shuffles to be screened).

    Handed the reader's own uncached DataFrame, the screen runs the
    reader's decode kernel and its own as ONE Python map. A cached reader
    is read from the cache (one map above ``InMemoryTableScan``, the files
    are not decoded again), and a ``drop`` in between keeps the two-map
    plan."""
    import gzip

    from bloomine_spark.operators.screen import screen_scores
    from bloomine_spark.params import ScreenParams
    from bloomine_spark.sources.fastq import (
        DNA_COMPLEMENT_MAP,
        read_fastq,
        tokenize_bases,
    )

    t = "ACGGTTACCAGTTGACCA" * 2
    body = f"@r0\nTTGGA{t}CCAAT\nplus\nquals\n".replace("plus", "+")
    (tmp_path / "p.fastq.gz").write_bytes(gzip.compress(
        body.replace("quals", "I" * (len(t) + 10)).encode()))

    def screen(reads):
        return screen_scores(
            reads, tokenize_bases(t).tolist(), ScreenParams(k=7),
            complement_map=DNA_COMPLEMENT_MAP,
        )

    def check(q, maps, from_cache):
        assert_max_exchanges(q, 0)
        facts = plan_facts(q)
        # the plan above the cache (the whole plan when none is read)
        above = facts.text.split("InMemoryRelation")[0]
        assert above.count("MapInArrow") == maps, facts.text
        assert ("InMemoryTableScan" in above) == from_cache, facts.text
        assert ("binaryFile" in above) != from_cache, facts.text

    # planned before any cache exists: Spark would read a cached reader
    # for every plan that contains the reader's plan
    reads = read_fastq(spark, str(tmp_path) + "/*")
    check(screen(reads), 1, False)
    check(screen(reads.drop("mate")), 2, False)
    cached = read_fastq(spark, str(tmp_path) + "/*").cache()
    try:
        check(screen(cached), 1, True)
    finally:
        cached.unpersist()


def test_cc_star_rounds_plan(spark):
    """One large-star/small-star round must stay narrow: no cartesian, and
    only (src, dst[, m]) columns ride the exchanges — the shape that
    survives a 100 TB pair graph. A bounded Exchange count guards against
    an accidental adjacency-list materialization or re-shuffle blowup."""
    from bloomine_spark.operators.dedup import _large_star, _small_star

    e = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "src: long, dst: long"
    )
    one_round = _small_star(_large_star(e))
    assert_no_cartesian(one_round)
    facts = plan_facts(one_round)
    # groupBy-min + equi-join + distinct per star: a handful of exchanges,
    # never O(graph) — the number is plan-shape, not data-size, dependent
    assert facts.n_exchanges <= 12, facts.n_exchanges


def test_dedup_groups_plan(spark):
    """The ranking window runs only over the duplicate subgraph and the
    final hydration is an equi-join — no cartesian anywhere."""
    from bloomine_spark.operators.dedup import dedup_groups

    docs = spark.createDataFrame(
        [(i, float(i % 3)) for i in range(20)], "doc_id: long, q: double"
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], "id_a: long, id_b: long"
    )
    out = dedup_groups(docs, pairs, quality_col="q")
    assert_no_cartesian(out)


@needs_data
def test_packing_plan_single_exchange(spark):
    """Sequence packing must cost exactly ONE shuffle: the per-source
    window sort's hash(source) partitioning is a subset of the
    (source, chunk_id) grouping keys, so Catalyst reuses it for the
    final aggregate — the property that makes packing an ordered-scan-
    class job at 100 TB. Zero Python nodes; unused doc columns pruned."""
    import __spark_entry__ as em

    q = em.queries()["pack_context_windows"](spark, SF)
    facts = plan_facts(q)
    assert facts.n_exchanges == 1, facts.text
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"lang", "n_chars", "ts"})


@needs_data
def test_hash_split_plan(spark):
    """Deterministic split is scan + map + one partial-agg shuffle."""
    import __spark_entry__ as em

    q = em.queries()["hash_split_assign"](spark, SF)
    facts = plan_facts(q)
    assert facts.n_exchanges == 1, facts.text
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"text", "lang", "ts"})


@needs_data
def test_mixture_and_epoch_pack_plans(spark):
    """The mixture plan is a per-source aggregate + a deliberately
    single-partition window over the tiny source table (2 exchanges);
    the end-to-end epoch assembly adds only a BROADCAST join of that
    plan and the packing window — no sort-merge join, no cartesian, no
    Python, bounded exchanges regardless of corpus size."""
    import __spark_entry__ as em

    plan_q = em.queries()["source_mixture_plan"](spark, SF)
    f1 = plan_facts(plan_q)
    assert f1.n_exchanges <= 2 and not f1.has_python_eval, f1.text

    pack_q = em.queries()["epoch_pack_chunks"](spark, SF)
    assert_no_cartesian(pack_q)
    f2 = plan_facts(pack_q)
    assert set(f2.join_strategies) == {"BroadcastHashJoin"}, f2.join_strategies
    assert f2.n_exchanges <= 4 and not f2.has_python_eval, f2.text
    assert_columns_pruned(pack_q, {"lang", "n_chars", "ts"})


@needs_data
def test_vocab_coverage_plan(spark):
    """The coverage window must NOT sort the whole vocab in one
    partition: the top-max(k) rows arrive via a distributed
    TakeOrderedAndProject, the occurrence total rides a broadcast, and
    AQE reuses the token-count exchange so the corpus is scanned once."""
    import __spark_entry__ as em

    q = em.queries()["vocab_coverage_curve"](spark, SF)
    q.collect()  # AQE finalizes exchange reuse at execution
    facts = plan_facts(q)
    assert "TakeOrderedAndProject" in facts.text, facts.text
    assert "ReusedExchange" in facts.text, facts.text
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"doc_id", "lang", "n_chars"})


@needs_data
def test_bpe_round_plans(spark):
    """Each BPE round is scale-bounded: the pair-count aggregate is one
    partial-agg shuffle over word TYPES, the round winner is a
    distributed TakeOrderedAndProject (one row to the driver), and
    applying a merge is a pure map (zero exchanges) — all pure Catalyst,
    no Python nodes anywhere."""
    from bloomine_spark.operators.bpe import (
        _apply_merge,
        _char_symbols,
        _pair_counts,
        word_freq_table,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    words = _char_symbols(word_freq_table(docs)).localCheckpoint()

    counts = _pair_counts(words)
    f1 = plan_facts(counts)
    assert f1.n_exchanges == 1 and not f1.has_python_eval, f1.text

    top = counts.orderBy(
        F.desc("pair_count"), F.asc("lhs"), F.asc("rhs")
    ).limit(1)
    assert "TakeOrderedAndProject" in plan_facts(top).text

    merged = _apply_merge(words, "e", "s")
    f2 = plan_facts(merged)
    assert f2.n_exchanges == 0 and not f2.has_python_eval, f2.text


@needs_data
def test_gopher_and_unigram_plans(spark):
    """Gopher rule pack is a pure-codegen map + one partial-agg shuffle;
    unigram NLL keeps its transcendentals in codegen (no Python), joins
    token→freq without cartesian, and AQE reuses the token-count
    exchange so the corpus is scanned once for freq and total."""
    import __spark_entry__ as em

    g = em.queries()["gopher_quality_per_source"](spark, SF)
    fg = plan_facts(g)
    assert fg.n_exchanges == 1 and not fg.has_python_eval, fg.text
    assert_columns_pruned(g, {"doc_id", "lang", "n_chars"})

    u = em.queries()["unigram_ppl_per_source"](spark, SF)
    u.collect()  # AQE finalizes reuse
    fu = plan_facts(u)
    assert not fu.has_python_eval
    assert "CartesianProduct" not in fu.join_strategies
    # count joins in the FINAL adaptive plan only — after execution the
    # AQE toString appends an "== Initial Plan ==" section that would
    # double-count every node. The only nested-loop join allowed is the
    # 1-ROW scalar-total broadcast (crossJoin(broadcast(total))).
    final = fu.text.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1, final
    assert "ReusedExchange" in final, final


@needs_data
def test_dup_span_and_dsir_plans(spark):
    """Duplicated-span coverage: pure Catalyst (no Python), no cartesian,
    unused doc columns pruned — the gram text reduces to md5 digests
    before any shuffle. DSIR: the bucket-diff table joins back by
    BROADCAST (it is n_buckets rows), the only nested-loop join is the
    1-row totals scalar, and no Python nodes anywhere."""
    import __spark_entry__ as em

    q = em.queries()["dup_span_coverage_per_source"](spark, SF)
    fq = plan_facts(q)
    assert not fq.has_python_eval, fq.text
    assert "CartesianProduct" not in fq.join_strategies
    assert_columns_pruned(q, {"lang", "n_chars"})

    d = em.queries()["dsir_importance_per_source"](spark, SF)
    fd = plan_facts(d)
    assert not fd.has_python_eval, fd.text
    assert "CartesianProduct" not in fd.join_strategies
    assert "BroadcastHashJoin" in fd.join_strategies, fd.text
    assert fd.text.count("BroadcastNestedLoopJoin") <= 1, fd.text


@needs_data
def test_bigram_and_countsketch_plans(spark):
    """Bigram LM: ln stays in codegen (no Python); context counts derive
    from the bigram aggregate (no second corpus scan — AQE reuse);
    the only nested-loop join is the 1-row vocab-size scalar. The
    Count-Sketch F2 query IS a python Arrow kernel by design, with the
    narrow state shuffle only (partials fold map-side)."""
    import __spark_entry__ as em

    b = em.queries()["bigram_ppl_per_source"](spark, SF)
    b.collect()  # AQE finalizes reuse decisions
    fb = plan_facts(b)
    assert not fb.has_python_eval, fb.text
    final = fb.text.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1, final
    assert "CartesianProduct" not in fb.join_strategies

    c = em.queries()["countsketch_token_f2"](spark, SF)
    fc = plan_facts(c)
    assert fc.has_python_eval, fc.text          # the Arrow fold kernel
    assert fc.n_exchanges <= 2, fc.text          # state shuffle (+AQE coalesce)
    assert "SortMergeJoin" not in fc.join_strategies


@needs_data
def test_kn_and_ccnet_plans(spark):
    """Kneser–Ney: all marginals derive from the one bigram aggregate —
    no Python, no cartesian, and the only nested-loop join is the 1-row
    bigram-type-count scalar. CCNet buckets: same scoring head + ONE
    window whose shuffle carries (source, doc_id, nll) only."""
    import __spark_entry__ as em

    k = em.queries()["kn_ppl_per_source"](spark, SF)
    k.collect()
    fk = plan_facts(k)
    assert not fk.has_python_eval, fk.text
    assert "CartesianProduct" not in fk.join_strategies
    final = fk.text.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1, final

    c = em.queries()["ccnet_ppl_buckets"](spark, SF)
    c.collect()
    fc = plan_facts(c)
    assert not fc.has_python_eval, fc.text
    assert "CartesianProduct" not in fc.join_strategies
    final = fc.text.split("== Initial Plan ==")[0]
    assert final.count("BroadcastNestedLoopJoin") <= 1, final
    assert final.count("Window") >= 1, final


@needs_data
def test_unimax_and_c4_plans(spark):
    """UniMax is windows over the tiny per-source aggregate — pure
    Catalyst, no Python, no cartesian. The C4 rule pack is a pure-
    codegen MAP: zero exchanges, zero Python, unused doc columns never
    reach the scan."""
    import __spark_entry__ as em

    u = em.queries()["unimax_alloc"](spark, SF)
    fu = plan_facts(u)
    assert not fu.has_python_eval, fu.text
    assert "CartesianProduct" not in fu.join_strategies

    c = em.queries()["c4_clean"](spark, SF)
    fc = plan_facts(c)
    assert not fc.has_python_eval, fc.text
    assert fc.n_exchanges == 0, fc.text
    assert_columns_pruned(c, {"lang", "source", "n_chars"})


@needs_data
def test_semdedup_pairs_plan(spark):
    """SemDeDup pair generation: exactly one exchange (the cell
    grouping) feeding the Arrow kernel; unused embedding-table columns
    pruned; no join anywhere (the pairwise work is in-kernel)."""
    from bloomine_spark.operators.dedup import (
        semdedup_pairs,
        semdedup_sign_cells,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    q = semdedup_pairs(
        semdedup_sign_cells(emb.select("vec_id", "embedding")),
        threshold=0.35,
    )
    f = plan_facts(q)
    assert f.has_python_eval, f.text
    assert f.n_exchanges == 1, f.text
    assert not f.join_strategies, f.text
    assert_columns_pruned(q, {"label"})


@needs_data
def test_refinedweb_and_gopher_repetition_plans(spark):
    """RefinedWeb line corrections are a pure-codegen MAP like C4 —
    zero exchanges, zero Python, unused doc columns never reach the
    scan. The Gopher repetition pack shuffles only doc_id-keyed digest
    relations (never line/word text): pure Catalyst, no cartesian."""
    import __spark_entry__ as em

    r = em.queries()["refinedweb_line_correct"](spark, SF)
    fr = plan_facts(r)
    assert not fr.has_python_eval, fr.text
    assert fr.n_exchanges == 0, fr.text
    assert_columns_pruned(r, {"lang", "source", "n_chars"})

    g = em.queries()["gopher_repetition_rules"](spark, SF)
    fg = plan_facts(g)
    assert not fg.has_python_eval, fg.text
    assert "CartesianProduct" not in fg.join_strategies, fg.text
    assert_columns_pruned(g, {"lang", "source", "n_chars"})


@needs_data
def test_ql_and_heaps_plans(spark):
    """Dirichlet QL: the ctf table joins back by BROADCAST; the only
    nested-loop joins are the 1-row scalar broadcasts (|C|, query
    constant); no Python. Heaps fit: the vocab-scale relation collapses
    to per-doc counts before the per-source window — pure Catalyst,
    no cartesian."""
    import __spark_entry__ as em

    q = em.queries()["ql_dirichlet_topk_per_source"](spark, SF)
    q.collect()  # AQE finalizes join strategies
    fq = plan_facts(q)
    assert not fq.has_python_eval, fq.text
    assert "CartesianProduct" not in fq.join_strategies, fq.text
    final = fq.text.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert final.count("BroadcastNestedLoopJoin") <= 3, final

    h = em.queries()["heaps_fit_per_source"](spark, SF)
    fh = plan_facts(h)
    assert not fh.has_python_eval, fh.text
    assert "CartesianProduct" not in fh.join_strategies, fh.text
    assert_columns_pruned(h, {"lang", "n_chars"})


@needs_data
def test_gpt3_window_decontaminate_plan(spark):
    """GPT-3 surgical decontamination: the Bloom probe (MapInArrow)
    prunes train grams before the exact semi-join's exchange (same
    posture as contamination_screen); gram text never rides the plan —
    grams are md5 digests; no cartesian; the text join back is
    doc_id-keyed. The declared query materializes the island relation
    once (r7: its three differently-pruned consumers re-derived the
    whole gram window pass), so the probe shape is audited on the
    un-truncated variant and the declared query is pinned to the
    truncated one (islands scanned as an RDD, exactly one Window
    chain)."""
    import __spark_entry__ as em
    from bloomine_spark.operators.dedup import gpt3_window_decontaminate
    from bloomine_spark.sources.tables import load_table
    from pyspark.sql import functions as F

    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 23 == 0).select(
        "doc_id",
        F.array_join(F.slice(F.split("text", " "), 4, 13), " ")
        .alias("text"),
    )
    full = gpt3_window_decontaminate(
        docs, ev, n=13, window=60, min_piece_chars=40, max_pieces=10,
        materialize_islands=False,
    )
    assert_no_cartesian(full)
    f = plan_facts(full)
    assert "MapInArrow" in f.text
    assert "LeftSemi" in f.text or "left_semi" in f.text.lower()

    q = em.queries()["gpt3_window_decontaminate"](spark, SF)
    assert_no_cartesian(q)
    fq = plan_facts(q)
    assert "ExistingRDD" in fq.text, fq.text      # islands materialized
    # exactly one gram window chain survives in the returned plan (the
    # pieces/untouched tail) — the 3x re-derivation is gone
    assert fq.text.count("Window") <= 4, fq.text


@needs_data
def test_novelty_and_nb_plans(spark):
    """N-gram novelty: one window pass builds every gram size, digests
    only — pure Catalyst, no cartesian, unused doc columns pruned. NB
    classifier: the corpus-scale side joins the model by BROADCAST
    (model completion's tiny L x B' grid is the only deliberate cross);
    no Python anywhere."""
    import __spark_entry__ as em

    q = em.queries()["ngram_novelty_per_source"](spark, SF)
    f = plan_facts(q)
    assert not f.has_python_eval, f.text
    assert "CartesianProduct" not in f.join_strategies, f.text
    assert_columns_pruned(q, {"lang", "n_chars"})

    c = em.queries()["nb_langid_confusion"](spark, SF)
    c.collect()  # AQE finalizes strategies
    fc = plan_facts(c)
    assert not fc.has_python_eval, fc.text
    final = fc.text.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    # the only cross shapes are the broadcast scalar/grid joins
    assert "CartesianProduct" not in final, final


@needs_data
def test_normalize_sample_wordpiece_plans(spark):
    """CCNet normalization and hash sampling are codegen maps/filters —
    no Python, at most the final sort's exchange, unused columns never
    reach the scan. WordPiece's returned plan (post greedy loop) is
    Python-free with no cartesian."""
    import __spark_entry__ as em

    n = em.queries()["ccnet_normalize"](spark, SF)
    fn = plan_facts(n)
    assert not fn.has_python_eval, fn.text
    assert fn.n_exchanges <= 1, fn.text          # orderBy only
    assert_columns_pruned(n, {"lang", "source", "n_chars"})

    s = em.queries()["sample_by_hash"](spark, SF)
    fs = plan_facts(s)
    assert not fs.has_python_eval, fs.text
    assert fs.n_exchanges <= 1, fs.text
    assert_columns_pruned(s, {"lang", "text"})

    # WordPiece segmentation runs as exactly one Python kernel over word
    # TYPES (r7, same shape as unigram Viterbi); the corpus-side
    # aggregation stays Python-free and joins are never cartesian
    w = em.queries()["wordpiece_fertility_per_source"](spark, SF)
    fw = plan_facts(w)
    n_py = sum(
        fw.text.count(node)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
    )
    assert n_py == 1, fw.text
    assert "CartesianProduct" not in fw.join_strategies, fw.text


@needs_data
def test_unigram_viterbi_plan(spark):
    """Viterbi segmentation runs on word TYPES: exactly one Python
    kernel (the per-type DP, r7) fed by the types relation — the corpus
    scan/aggregation side stays Python-free — and no cartesian."""
    import __spark_entry__ as em

    q = em.queries()["unigram_segment_stats_per_source"](spark, SF)
    f = plan_facts(q)
    assert "CartesianProduct" not in f.join_strategies, f.text
    n_py = sum(
        f.text.count(node)
        for node in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas")
    )
    assert n_py == 1, f.text


@needs_data
def test_soft_dedup_and_priority_sample_plans(spark):
    """SoftDedup: no cartesian — the only BNLJ is the 1-row scalar
    broadcast (N, G); text is pruned from the final weight join's scan
    side. Priority sample: Python-free, WindowGroupLimit partial top-k
    before the single hash exchange, text/lang never read."""
    import __spark_entry__ as em

    sd = em.queries()["soft_dedup_weights"](spark, SF)
    fsd = plan_facts(sd)
    assert "CartesianProduct" not in fsd.join_strategies, fsd.text
    # exactly one BroadcastNestedLoopJoin: the 1-row (n, g) scalar
    assert fsd.join_strategies.count("BroadcastNestedLoopJoin") == 1, (
        fsd.join_strategies
    )

    ps = em.queries()["priority_sample_per_source"](spark, SF)
    fps = plan_facts(ps)
    assert not fps.has_python_eval, fps.text
    plan = fps.text.split("== Initial Plan ==")[0]
    assert "WindowGroupLimit" in plan, plan
    assert_columns_pruned(ps, {"text", "lang"})


@needs_data
def test_pq_ann_plans(spark):
    """PQ: encode is ONE Arrow pass over the scan with zero exchanges;
    the refined top-k plan broadcasts the tiny candidate list (never
    shuffles the embedding table) and has no cartesian."""
    from bloomine_spark.operators.similarity import (
        pq_encode,
        pq_topk,
        train_pq_codebooks,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    books = train_pq_codebooks(emb, m=8, ksub=16)
    codes = pq_encode(emb, books)
    fc = plan_facts(codes)
    assert fc.has_python_eval, fc.text
    assert fc.n_exchanges == 0, fc.text

    rows = emb.limit(3).collect()
    qs = [(int(r["vec_id"]), list(map(float, r["embedding"]))) for r in rows]
    top = pq_topk(codes, qs, books, k=5, emb=emb, refine=4)
    ft = plan_facts(top)
    assert "CartesianProduct" not in ft.join_strategies, ft.text
    assert "BroadcastHashJoin" in ft.join_strategies, ft.text
    assert "SortMergeJoin" not in ft.join_strategies, ft.text


@needs_data
def test_asof_join_has_no_join_node(spark):
    """The as-of join is the union+window plan: ONE hash exchange on the
    key carries both sides and NO join node exists — shuffle volume is
    |left|+|right| rows regardless of per-key match-count skew."""
    import __spark_entry__ as em

    q = em.queries()["asof_click_attribution"](spark, SF)
    facts = plan_facts(q)
    assert "Join" not in facts.text, facts.text
    assert_max_exchanges(q, 1)
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"props"})


@needs_data
def test_funnel_and_retention_plans(spark):
    """Funnel: O(steps) filtered aggs + narrow key joins, no cartesian,
    no Python; retention: two key aggs + one key join, props/event_type
    never read."""
    import __spark_entry__ as em

    q = em.queries()["funnel_signup_click_purchase"](spark, SF)
    assert_no_cartesian(q)
    assert not plan_facts(q).has_python_eval
    assert_columns_pruned(q, {"props", "value", "event_id"})

    r = em.queries()["retention_weekly_cohorts"](spark, SF)
    assert_no_cartesian(r)
    assert not plan_facts(r).has_python_eval
    assert_columns_pruned(r, {"props", "value", "event_type"})
    assert_max_exchanges(r, 4)


@needs_data
def test_rollup_is_expand_plus_one_exchange(spark):
    """ROLLUP compiles to Expand → partial agg → ONE exchange → final
    agg: the subtotal levels ride the map side, never extra shuffles."""
    import __spark_entry__ as em

    q = em.queries()["events_rollup_day"](spark, SF)
    facts = plan_facts(q)
    assert "Expand" in facts.text
    assert_max_exchanges(q, 1)
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"props", "user_id", "event_id"})


@needs_data
def test_collocation_and_phrase_search_plans(spark):
    """PMI/LLR: the only non-equi join is the 1-row N-scalar BNLJ (the
    vocab_coverage idiom); margins broadcast. Phrase search: postings are
    vocabulary-filtered before the broadcast phrase join; no cartesian,
    no Python anywhere."""
    import __spark_entry__ as em

    q = em.queries()["pmi_collocations_topk"](spark, SF)
    facts = plan_facts(q)
    assert "CartesianProduct" not in facts.text
    assert facts.text.count("BroadcastNestedLoopJoin") <= 1
    assert not facts.has_python_eval
    assert_columns_pruned(q, {"source", "lang", "n_chars"})

    p = em.queries()["phrase_search_docs"](spark, SF)
    pf = plan_facts(p)
    assert_no_cartesian(p)
    assert "BroadcastHashJoin" in pf.text
    assert not pf.has_python_eval
    assert_columns_pruned(p, {"source", "lang", "n_chars"})


@needs_data
def test_readability_plan(spark):
    """Readability is a codegen map + ONE partial-agg exchange."""
    import __spark_entry__ as em

    r = em.queries()["readability_per_source"](spark, SF)
    rf = plan_facts(r)
    assert_max_exchanges(r, 1)
    assert not rf.has_python_eval
    assert_columns_pruned(r, {"doc_id", "lang", "n_chars"})


@needs_data
def test_containment_and_keyness_plans(spark):
    """Containment rides the jaccard skeleton (equi-join on shingle, no
    cartesian, sizes ride the postings). Keyness: the only non-equi join
    is the 1-row N-scalar BNLJ; margins broadcast."""
    import __spark_entry__ as em

    c = em.queries()["ngram_containment_pairs"](spark, SF)
    cf = plan_facts(c)
    assert_no_cartesian(c)
    assert not cf.has_python_eval
    assert_columns_pruned(c, {"lang", "source", "n_chars"})

    k = em.queries()["distinctive_terms_per_source"](spark, SF)
    kf = plan_facts(k)
    assert "CartesianProduct" not in kf.text
    assert kf.text.count("BroadcastNestedLoopJoin") <= 1
    assert not kf.has_python_eval
    assert_columns_pruned(k, {"doc_id", "lang", "n_chars"})


@needs_data
def test_linkage_plans(spark):
    """Fuzzy pairs: equi-join on the blocking key — never cartesian, the
    levenshtein verify stays JVM-side. Fingerprint clustering: ONE hash
    exchange (the key), windows only. ER resolution reuses dedup_groups
    (its CC rounds are audited in test_dedup_groups)."""
    import __spark_entry__ as em

    p = em.queries()["fuzzy_edit_pairs_docs"](spark, SF)
    pf = plan_facts(p)
    assert_no_cartesian(p)
    assert not pf.has_python_eval
    assert_columns_pruned(p, {"lang", "source", "n_chars"})

    c = em.queries()["fingerprint_clusters_docs"](spark, SF)
    cf = plan_facts(c)
    assert not cf.has_python_eval
    assert_max_exchanges(c, 1)
    assert_columns_pruned(c, {"lang", "source", "n_chars"})


@needs_data
def test_robust_and_cube_plans(spark):
    """MAD outliers: both median windows and the score share ONE hash
    exchange on the group key; winsorize's windows + the per-source agg
    likewise collapse to one. CUBE is Expand + the two grouping
    exchanges (count-distinct adds the second)."""
    import __spark_entry__ as em

    m = em.queries()["mad_outlier_docs"](spark, SF)
    mf = plan_facts(m)
    assert not mf.has_python_eval
    assert_max_exchanges(m, 1)

    w = em.queries()["winsorize_stats_docs"](spark, SF)
    assert_max_exchanges(w, 1)
    assert_columns_pruned(w, {"doc_id", "lang", "n_chars"})

    q = em.queries()["events_cube_day"](spark, SF)
    qf = plan_facts(q)
    assert "Expand" in qf.text
    assert_max_exchanges(q, 2)
    assert not qf.has_python_eval


@needs_data
def test_timeseries_plans(spark):
    """Rolling / EWMA / SCD2 are each ONE hash exchange on the key plus
    ordered windows — the sessionization envelope; the SCD2 island fold
    and interval windows reuse the key partitioning."""
    import __spark_entry__ as em

    for name in ("rolling_user_value_7d", "ewma_user_value",
                 "scd2_user_state"):
        q = em.queries()[name](spark, SF)
        qf = plan_facts(q)
        assert not qf.has_python_eval, name
        assert_max_exchanges(q, 1)


@needs_data
def test_zorder_key_is_zero_exchange_codegen(spark):
    """The Morton key is a pure integer expression fold: no exchange,
    no Python eval, unused event columns pruned at the scan."""
    import __spark_entry__ as em

    q = em.queries()["zorder_key_events"](spark, SF)
    qf = plan_facts(q)
    assert not qf.has_python_eval
    assert_max_exchanges(q, 0)
    assert_columns_pruned(q, {"props", "event_type", "ts"})
