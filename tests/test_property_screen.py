"""Property-based (hypothesis) conformance: random reads + random targets,
the vectorized kernel chain must reproduce the pure-Python oracle exactly —
FP decisions, RC flags, scores, pass flags. Runs the kernel directly (no
Spark session) so hundreds of cases stay fast.

The DNA cases use ``DNA_COMPLEMENT_MAP`` (oracle transform: complement,
then reverse) on batches padded past 5^k windows, so they screen on the
window-table path; the small-vocabulary cases stay on the hash path."""

import numpy as np
import pandas as pd
import pyarrow as pa
from hypothesis import given, settings
from hypothesis import strategies as st

from bloomine_spark import oracle
from bloomine_spark.functions.kgrams import raw_list_values
from bloomine_spark.operators.multiscreen import prepare_targets
from bloomine_spark.operators.screen import (
    make_screen_kernel,
    prepare_target,
    window_radix,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP


class FakeBroadcast:
    def __init__(self, v):
        self.value = v


def record_batch(reads: list[list[int]]) -> pa.RecordBatch:
    return pa.RecordBatch.from_pydict(
        {
            "doc_id": pa.array([f"r{i}" for i in range(len(reads))]),
            "tokens": pa.array(reads, type=pa.list_(pa.int32())),
        }
    )


def collect(kern, reads: list[list[int]], cols: list[str]) -> pd.DataFrame:
    out = list(kern(iter([record_batch(reads)])))
    if not out:
        return pd.DataFrame(columns=cols)
    return pa.Table.from_batches(out).to_pandas()


def run_kernel_local(reads: list[list[int]], target: list[int],
                     params: ScreenParams, mode: str = "scored",
                     complement_map: np.ndarray | None = None):
    """Drive the mapInArrow kernel on one in-memory batch."""
    ctx = prepare_target(target, params, complement_map)
    kern = make_screen_kernel(
        FakeBroadcast({"": ctx}), "tokens", ["doc_id"], params.k,
        complement_map, mode,
    )
    cols = ["doc_id", "target_id", "rc", "fp_hits", "score", "threshold",
            "sp_pass"]
    return collect(kern, reads, cols).drop(columns="target_id")


token = st.integers(min_value=0, max_value=15)  # tiny vocab → many collisions


@st.composite
def read_and_target(draw):
    k = draw(st.integers(min_value=2, max_value=5))
    target = draw(st.lists(token, min_size=k, max_size=14))
    n_reads = draw(st.integers(min_value=1, max_value=8))
    reads = []
    for _ in range(n_reads):
        kind = draw(st.integers(0, 3))
        base = draw(st.lists(token, min_size=0, max_size=30))
        if kind == 1 and len(base) >= 2:  # embed target
            at = draw(st.integers(0, max(len(base) - 1, 0)))
            base = base[:at] + target + base[at:]
        elif kind == 2:  # reversed target embedded
            base = base + target[::-1]
        reads.append(base)
    params = ScreenParams(
        k=k,
        fp_sim=draw(st.sampled_from([0.0, 35.0, 50.0, 80.0])),
        sp_error=draw(st.sampled_from([2.0, 4.0, 8.0])),
    )
    return reads, target, params


def _bloom_member(ctx):
    """Membership callable backed by the ENGINE's Bloom filter, so the
    oracle sees the same false positives (the reference's own decisions
    likewise depend on ITS bloom's FPs; what must always agree is the
    final verified hit — asserted separately)."""
    from bloomine_spark.functions.hashing import rolling_kgram_hash

    def member(kg):
        h = rolling_kgram_hash(np.asarray(kg, dtype=np.uint64), 1, len(kg))
        return bool(ctx.bloom.contains_hashes(h)[0])

    return member


def check_against_oracle(reads, target, params, complement_map=None):
    got = run_kernel_local(
        reads, target, params, complement_map=complement_map
    ).set_index("doc_id")
    ctx = prepare_target(target, params, complement_map)
    member = _bloom_member(ctx)
    transform = None
    if complement_map is not None:
        def transform(r):  # reverse complement
            return complement_map[np.asarray(r, dtype=np.int64)][::-1].tolist()

    for i, read in enumerate(reads):
        # same-bloom oracle: rows must match EXACTLY, FPs included
        res = oracle.screen_read(
            read, target, params, member=member, transform=transform
        )
        rid = f"r{i}"
        if res.score is None:
            assert rid not in got.index, (read, target)
            engine_hit = False
        else:
            assert rid in got.index, (read, target, params)
            row = got.loc[rid]
            assert bool(row["rc"]) == res.rc, (read, target, params)
            assert int(row["score"]) == res.score, (read, target, params)
            assert bool(row["sp_pass"]) == res.sp_pass, (read, target, params)
            engine_hit = bool(row["sp_pass"])
        # no FORWARD false negatives (structural Bloom property): if the
        # exact-membership forward path hits, the engine must hit — bloom ⊇
        # exact so forward FP passes too, and SP scores are bloom-independent.
        # (An RC-path hit CAN be lost when a bloom FP makes the forward pass
        # succeed and suppresses the retry — the reference behaves the same
        # with its own bloom's FPs: src/BlooMineUtils.cpp:348.)
        kset = oracle.kgram_set(target, params.k)
        thr = params.fp_threshold(len(kset))
        if oracle.fp_screen(read, params.k, thr, kset.__contains__):
            fwd_score = oracle.kmer_align_score(read, kset, params.k, params)
            if fwd_score >= params.mst(len(kset)):
                assert engine_hit, (read, target, params)


@settings(max_examples=150, deadline=None)
@given(read_and_target())
def test_kernel_matches_oracle(case):
    check_against_oracle(*case)


base = st.integers(min_value=0, max_value=4)  # A C G T N


@st.composite
def dna_case(draw, n_targets=1):
    """Reads over the DNA alphabet carrying targets forward, reverse
    complemented or mutated, padded with random reads until the batch has
    5^k windows (the window-table gate)."""
    k = draw(st.integers(min_value=2, max_value=5))
    targets = [draw(st.lists(base, min_size=k, max_size=16))
               for _ in range(n_targets)]
    reads = []
    for _ in range(draw(st.integers(min_value=1, max_value=8))):
        t = draw(st.sampled_from(targets))
        base_read = draw(st.lists(base, min_size=0, max_size=30))
        at = draw(st.integers(0, len(base_read)))
        kind = draw(st.integers(0, 3))
        if kind == 1:
            base_read = base_read[:at] + t + base_read[at:]
        elif kind == 2:
            rc = DNA_COMPLEMENT_MAP[np.asarray(t)][::-1].tolist()
            base_read = base_read[:at] + rc + base_read[at:]
        elif kind == 3 and t:
            j = draw(st.integers(0, len(t) - 1))
            mutant = t[:j] + [(t[j] + 1) % 5] + t[j + 1:]
            base_read = base_read[:at] + mutant + base_read[at:]
        reads.append(base_read)
    rng = np.random.default_rng(draw(st.integers(0, 2**32 - 1)))
    while sum(len(r) for r in reads) < 5**k + k:
        reads.append(rng.integers(0, 5, 60).tolist())
    params = ScreenParams(
        k=k,
        false_positive=draw(st.sampled_from([1e-4, 0.05, 0.3])),
        fp_sim=draw(st.sampled_from([0.0, 35.0, 50.0, 80.0])),
        sp_error=draw(st.sampled_from([2.0, 4.0, 8.0])),
    )
    assert window_radix(
        raw_list_values(record_batch(reads), "tokens"), k, DNA_COMPLEMENT_MAP
    ) == 5
    return reads, targets, params


@settings(max_examples=60, deadline=None)
@given(dna_case())
def test_dna_kernel_matches_oracle(case):
    reads, (target,), params = case
    check_against_oracle(reads, target, params, DNA_COMPLEMENT_MAP)


@settings(max_examples=40, deadline=None)
@given(dna_case(n_targets=3))
def test_multi_screen_matches_single_target_screens(case):
    """The kernel screening several targets at once == the kernel run
    once per target."""
    reads, targets, params = case
    tmap = {f"t{i}": t for i, t in enumerate(targets)}
    cols = ["doc_id", "target_id", "rc", "fp_hits", "score", "threshold",
            "sp_pass"]
    kern = make_screen_kernel(
        FakeBroadcast(prepare_targets(tmap, params, DNA_COMPLEMENT_MAP)),
        "tokens", ["doc_id"], params.k, DNA_COMPLEMENT_MAP,
    )
    multi = collect(kern, reads, cols)
    for tid, target in tmap.items():
        single = run_kernel_local(
            reads, target, params, complement_map=DNA_COMPLEMENT_MAP
        )
        got = multi[multi["target_id"] == tid].drop(columns="target_id")
        pd.testing.assert_frame_equal(
            got.sort_values("doc_id").reset_index(drop=True),
            single.sort_values("doc_id").reset_index(drop=True),
            check_dtype=False,
        )


@settings(max_examples=80, deadline=None)
@given(read_and_target())
def test_exact_mode_matches_containment(case):
    reads, target, params = case
    got = run_kernel_local(reads, target, params, mode="exact")
    got = got.set_index("doc_id")
    tgt = np.asarray(target)

    def contains(a):
        a = np.asarray(a)
        if len(a) < len(tgt):
            return False
        w = np.lib.stride_tricks.sliding_window_view(a, len(tgt))
        return bool((w == tgt).all(axis=1).any())

    ctx = prepare_target(target, params)
    member = _bloom_member(ctx)  # same bloom as the engine (FPs included)
    kset = oracle.kgram_set(target, params.k)
    thr = params.fp_threshold(len(kset))
    for i, read in enumerate(reads):
        rid = f"r{i}"
        fwd_fp = oracle.fp_screen(read, params.k, thr, member)
        if fwd_fp:
            want = contains(read)
        else:
            rc = read[::-1]
            want = oracle.fp_screen(rc, params.k, thr, member) and contains(rc)
        if rid in got.index:
            assert bool(got.loc[rid, "sp_pass"]) == want, (read, target, params)
        else:
            assert not want, (read, target, params)
