"""The batched anchor search must agree with the per-row reference-shaped
implementation (_kmer_hit) on every read — fuzzed, numpy-only (no Spark)."""

import numpy as np
import pandas as pd

from bloomine_spark.functions.kgrams import flatten_token_series
from bloomine_spark.operators.cascade import (
    _batch_flank_anchors,
    _kascade_hashes,
    _kmer_hit,
)
from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP

HEAD = np.array([11, 22, 33, 44, 55, 66, 77, 88, 99, 110, 121, 132], np.int64)
TAIL = np.array([201, 202, 203, 204, 205, 206, 207, 208, 209, 210, 211, 212], np.int64)


def _fuzz_reads(rng, n_reads, flank):
    """Reads covering the interesting cases: full flank fwd/rev, partial
    flank prefixes/suffixes at several k levels, flank absent, repeated
    low-alphabet noise (hash-duplicate pressure), very short reads."""
    reads = []
    lf = len(flank)
    for _ in range(n_reads):
        kind = rng.integers(0, 6)
        pad_l = rng.integers(1, 4, rng.integers(0, 8)).tolist()
        pad_r = rng.integers(1, 4, rng.integers(0, 8)).tolist()
        if kind == 0:  # full flank forward
            mid = list(flank)
        elif kind == 1:  # full flank, read reversed
            mid = list(flank)
        elif kind == 2:  # partial prefix (random level)
            cut = rng.integers(5, lf + 1)
            mid = list(flank[:cut])
        elif kind == 3:  # partial suffix
            cut = rng.integers(5, lf + 1)
            mid = list(flank[lf - cut:])
        elif kind == 4:  # absent
            mid = rng.integers(1, 4, rng.integers(3, 20)).tolist()
        else:  # repeated-token soup (duplicate kmers in the read)
            mid = (list(flank[:6]) * 3)[: rng.integers(5, 18)]
        read = pad_l + mid + pad_r
        if kind == 1 or rng.random() < 0.25:
            read = read[::-1]
        reads.append(np.array(read, dtype=np.int64))
    # plus degenerate rows
    reads.append(np.array([], dtype=np.int64))
    reads.append(np.array([7], dtype=np.int64))
    return reads


def _reference_anchors(reads, kascade, flag, len_flank):
    out = []
    for read in reads:
        rr = read[::-1].copy()
        pos, o = _kmer_hit(kascade, read, rr, flag, len_flank)
        out.append((pos if pos is not None else -1, {"+": 1, "-": 2, None: 0}[o]))
    return out


def test_batch_anchors_match_per_row_reference():
    rng = np.random.default_rng(17)
    for trial in range(4):
        reads = _fuzz_reads(rng, 60, HEAD if trial % 2 == 0 else TAIL)
        batch = flatten_token_series(pd.Series(reads))
        for flank, flag in ((HEAD, "head"), (TAIL, "tail")):
            for min_kmer in (5, 8, 11):
                kas = _kascade_hashes(flank, min_kmer)
                got_pos, got_dir = _batch_flank_anchors(
                    batch, kas, flag, len(flank)
                )
                want = _reference_anchors(reads, kas, flag, len(flank))
                got = list(zip(got_pos.tolist(), got_dir.tolist()))
                assert got == want, (trial, flag, min_kmer)


def _revcomp(read):
    return DNA_COMPLEMENT_MAP[read][::-1].copy()


def _fuzz_dna_reads(rng, n_reads, flank):
    """DNA reads (tokens 0..4, N included) carrying a full or partial flank,
    some reverse-complemented, plus flank-free and degenerate reads."""
    reads = []
    lf = len(flank)
    for _ in range(n_reads):
        cut = int(rng.integers(5, lf + 1))
        kind = rng.integers(0, 4)
        if kind == 0:
            mid = list(flank)
        elif kind == 1:
            mid = list(flank[:cut])
        elif kind == 2:
            mid = list(flank[lf - cut:])
        else:
            mid = []
        read = np.array(
            rng.integers(0, 5, rng.integers(0, 12)).tolist() + mid
            + rng.integers(0, 5, rng.integers(0, 12)).tolist(),
            dtype=np.int64,
        )
        reads.append(_revcomp(read) if rng.random() < 0.5 else read)
    reads.append(np.array([], dtype=np.int64))
    reads.append(np.array([4], dtype=np.int64))
    return reads


def test_batch_anchors_match_reference_on_dna_reverse_complement():
    rng = np.random.default_rng(29)
    head = rng.integers(0, 4, 14)
    tail = rng.integers(0, 4, 14)
    for trial in range(4):
        planted = head if trial % 2 == 0 else tail
        reads = _fuzz_dna_reads(rng, 80, planted)
        batch = flatten_token_series(pd.Series(reads))
        for flank, flag in ((head, "head"), (tail, "tail")):
            for min_kmer in (5, 8, 11):
                kas = _kascade_hashes(flank, min_kmer)
                got_pos, got_dir = _batch_flank_anchors(
                    batch, kas, flag, len(flank), DNA_COMPLEMENT_MAP
                )
                want = []
                for read in reads:
                    pos, o = _kmer_hit(kas, read, _revcomp(read), flag,
                                       len(flank))
                    want.append((-1 if pos is None else pos,
                                 {"+": 1, "-": 2, None: 0}[o]))
                got = list(zip(got_pos.tolist(), got_dir.tolist()))
                assert got == want, (trial, flag, min_kmer)
                # the planted flank anchors on both strands
                if flank is planted:
                    assert {1, 2} <= {d for _, d in want}
