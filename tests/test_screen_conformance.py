"""Engine ↔ reference-oracle conformance for the two-phase screen.

The pure-Python oracle (bloomine_spark.oracle) reproduces the reference's
per-read decision semantics (/root/reference/src/FQread.hpp:66-90,190-489,
/root/reference/src/BlooMineUtils.cpp:337-365). The Spark kernels must match
it row-for-row: FP survivors, RC flags, SP scores, and pass flags — the
"per-row token-array equality / matching hit-miss decisions" gate from
BASELINE.json.
"""

import numpy as np
import pytest

from bloomine_spark import oracle
from bloomine_spark.datagen import DEFAULT_TARGET, FIXTURE_TARGET, generate_rows
from bloomine_spark.operators.screen import (
    prepare_target,
    score_coverage_mask,
    screen_hits,
    screen_scores,
)
from bloomine_spark.params import ScreenParams

P = ScreenParams()


def test_oracle_fixture_semantics():
    # period-4 12-token fixture: 4 distinct 7-grams, thr=2
    kset = oracle.kgram_set(FIXTURE_TARGET, 7)
    assert len(kset) == 4
    assert P.fp_threshold(4) == 2
    # a read that IS the target passes both phases: coverage is full →
    # score = 12*10 = 120 ≥ mst
    res = oracle.screen_read(FIXTURE_TARGET, FIXTURE_TARGET, P)
    assert res.fp_pass and res.sp_pass and not res.rc
    assert res.score == 120
    # a background read fails FP
    res2 = oracle.screen_read([9, 9, 9, 8, 8, 8, 7, 7, 7, 6, 6, 6], FIXTURE_TARGET, P)
    assert not res2.fp_pass and not res2.hit
    # reversed-only read passes via the RC path
    res3 = oracle.screen_read(list(reversed(DEFAULT_TARGET)), DEFAULT_TARGET, P)
    assert res3.fp_pass and res3.rc


def test_oracle_short_read_and_zero_threshold():
    assert not oracle.fp_screen([1, 2, 3], 7, 1, lambda kg: True)  # len<k
    assert oracle.fp_screen([1, 2, 3], 7, 0, lambda kg: False)     # thr<=0


def test_score_coverage_mask_matches_oracle_scorer():
    rng = np.random.default_rng(7)
    for _ in range(300):
        n = int(rng.integers(8, 120))
        mask = rng.random(n) < 0.35
        got = score_coverage_mask(mask, P)
        # oracle path: fabricate a read/target pair is hard; instead compare
        # against the oracle's internal fragment scorer on the same mask.
        want = _oracle_score_from_mask(mask.tolist(), P)
        assert got == want, (mask.astype(int).tolist(), got, want)


def _oracle_score_from_mask(mask, p):
    """Drive oracle.kmer_align_score's split/concat logic on a raw mask by
    reusing its pure helpers (mirrors kmerAlign after painting)."""
    if not any(mask):
        return 0
    first = mask.index(True)
    last = len(mask) - 1 - mask[::-1].index(True)
    stripped = mask[first : last + 1]
    gap_threshold = p.gap_threshold()
    fragments = []
    c0, gap_count = 0, 0
    for i, cov in enumerate(stripped):
        gap_count = gap_count + 1 if not cov else 0
        nxt = stripped[i + 1] if i + 1 < len(stripped) else True
        if not cov and gap_count >= gap_threshold and nxt:
            frag = stripped[c0 : i + 1 - gap_count]
            fragments.append((oracle._score_fragment(frag, p), gap_count))
            c0, gap_count = i + 1, 0
    frag = stripped[c0:]
    fragments.append((oracle._score_fragment(frag, p), 0))
    best = fragments[0][0]
    for i in range(len(fragments)):
        for j in range(i, len(fragments)):
            if i == j:
                score = fragments[i][0]
            else:
                acc = 0.0
                for t in range(i, j + 1):
                    acc += fragments[t][0]
                    if t < j:
                        acc -= p.gap_open
                        acc -= p.gap_extend * fragments[t][1] - 1
                score = int(acc)
            best = max(best, score)
    return best


@pytest.fixture(scope="module")
def small_table():
    return generate_rows(np.arange(400), seed=42, vocab=256)


def test_engine_matches_oracle_rowwise(spark, small_table):
    pdf = small_table
    df = spark.createDataFrame(pdf)
    got = (
        screen_scores(df, DEFAULT_TARGET, P)
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )

    want = {}
    for _, row in pdf.iterrows():
        res = oracle.screen_read(row["tokens"].tolist(), DEFAULT_TARGET, P)
        if res.score is not None:
            want[row["doc_id"]] = res

    assert set(got.index) == set(want.keys())
    for doc_id, res in want.items():
        g = got.loc[doc_id]
        assert bool(g["rc"]) == res.rc, doc_id
        assert int(g["score"]) == res.score, (doc_id, int(g["score"]), res.score)
        assert bool(g["sp_pass"]) == res.sp_pass, doc_id

    # sanity on fixture composition: some hits, some RC hits, some FP-only
    assert (got["sp_pass"]).sum() > 10
    assert (got["rc"] & got["sp_pass"]).sum() > 3
    assert (~got["sp_pass"]).sum() > 3


def test_exact_mode_is_exact_containment(spark, small_table):
    pdf = small_table
    df = spark.createDataFrame(pdf)
    hits = (
        screen_hits(df, DEFAULT_TARGET, P, mode="exact")
        .select("doc_id")
        .toPandas()["doc_id"]
        .tolist()
    )
    tgt = np.asarray(DEFAULT_TARGET, dtype=np.int64)
    rev = tgt[::-1]

    def contains(a, pat):
        a = np.asarray(a, dtype=np.int64)
        if len(a) < len(pat):
            return False
        w = np.lib.stride_tricks.sliding_window_view(a, len(pat))
        return bool((w == pat).all(axis=1).any())

    want = []
    for _, row in pdf.iterrows():
        toks = row["tokens"]
        kset = oracle.kgram_set(DEFAULT_TARGET, P.k)
        thr = P.fp_threshold(len(kset))
        fwd_fp = oracle.fp_screen(toks.tolist(), P.k, thr, kset.__contains__)
        if fwd_fp:
            ok = contains(toks, tgt)
        else:
            rc = toks.tolist()[::-1]
            ok = oracle.fp_screen(rc, P.k, thr, kset.__contains__) and contains(
                rc, tgt
            )
        if ok:
            want.append(row["doc_id"])
    assert sorted(hits) == sorted(want)
    assert len(want) > 5


def test_screen_no_bloom_false_positive_effect(small_table):
    """On the fixture, Bloom and exact membership give identical FP
    decisions (fp=1e-4, tiny kset) — the precondition for oracle equality
    (SURVEY.md §7)."""
    ctx = prepare_target(DEFAULT_TARGET, P)
    kset = oracle.kgram_set(DEFAULT_TARGET, P.k)
    thr = ctx.fp_threshold
    for _, row in small_table.head(150).iterrows():
        toks = row["tokens"].tolist()
        for read in (toks, toks[::-1]):
            exact = oracle.fp_screen(read, P.k, thr, kset.__contains__)
            from bloomine_spark.functions.kgrams import kgram_index

            h = kgram_index(np.asarray(read), P.k).hashes
            bloom_hits = int(ctx.bloom.contains_hashes(h).sum())
            assert (bloom_hits >= thr) == exact
