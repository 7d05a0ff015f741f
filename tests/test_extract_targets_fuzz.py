"""extract_targets' vectorized flat-buffer gather must agree with a per-row
oracle that uses real Python list slicing — the reference's semantics
(/root/reference/bloomine/moi.py:40-75: read_seq[start:end], where partial
flank matches at read edges can push start/end outside [0, n) and Python
slicing wraps negatives then clamps). Fuzzed with adversarial partial-flank
reads: this is the case where an unclamped gather reads other rows' tokens.
"""

import numpy as np
import pandas as pd
import pytest

from bloomine_spark.operators.cascade import (
    _kascade_hashes,
    _kmer_hit,
    extract_targets,
)

HEAD = np.array([11, 22, 33, 44, 55, 66, 77, 88, 99, 110, 121, 132], np.int64)
TAIL = np.array(
    [201, 202, 203, 204, 205, 206, 207, 208, 209, 210, 211, 212], np.int64
)


def _reference_extract(read, head, tail, min_kmer):
    """Per-row port of isolate_target (moi.py:17-77), token domain
    (reverse_complement == reversal). Python list slicing IS the oracle for
    the boundary semantics under test."""
    kas_h = _kascade_hashes(head, min_kmer)
    kas_t = _kascade_hashes(tail, min_kmer)
    rr = read[::-1].copy()
    hp, ho = _kmer_hit(kas_h, read, rr, "head", len(head))
    tp, to = _kmer_hit(kas_t, read, rr, "tail", len(tail))
    if hp is None or tp is None or ho != to:
        return None
    n = len(read)
    if hp > tp:  # moi.py:56-59
        hp = n - hp + len(head) + 1
        tp = n - tp - len(tail)
    seq = list(read) if ho == "+" else list(read[::-1])
    if hp <= tp:  # moi.py:66-73
        return seq[hp + 1 : tp]
    return seq[tp + 1 : hp][::-1]


def _fuzz_reads(rng, n_reads):
    """Reads biased toward the failure mode: PARTIAL flanks near read edges
    (prefix/suffix cuts at every kascade level), swapped flank order (the
    mirror branch), reversed reads, minimal padding."""
    reads = []
    lh, lt = len(HEAD), len(TAIL)
    for _ in range(n_reads):
        cut_h = int(rng.integers(5, lh + 1))
        cut_t = int(rng.integers(5, lt + 1))
        h = list(HEAD[:cut_h]) if rng.random() < 0.5 else list(HEAD[lh - cut_h:])
        t = list(TAIL[:cut_t]) if rng.random() < 0.5 else list(TAIL[lt - cut_t:])
        mid = rng.integers(300, 400, rng.integers(0, 6)).tolist()
        pad_l = rng.integers(1, 4, rng.integers(0, 3)).tolist()
        pad_r = rng.integers(1, 4, rng.integers(0, 3)).tolist()
        pair = [h, t] if rng.random() < 0.5 else [t, h]  # swapped → mirror
        read = pad_l + pair[0] + mid + pair[1] + pad_r
        if rng.random() < 0.4:
            read = read[::-1]
        reads.append(np.array(read, dtype=np.int64))
    return reads


@pytest.mark.parametrize("min_kmer", [5, 8, 11])
def test_extract_targets_matches_python_slice_oracle(spark, min_kmer):
    rng = np.random.default_rng(23)
    reads = _fuzz_reads(rng, 300)
    pdf = pd.DataFrame(
        {
            "doc_id": [f"r{i}" for i in range(len(reads))],
            "tokens": [r.astype(np.int32) for r in reads],
        }
    )
    df = spark.createDataFrame(pdf)
    got = {
        r["doc_id"]: list(r["extracted"])
        for r in extract_targets(
            df, HEAD.tolist(), TAIL.tolist(), min_kmer=min_kmer
        ).collect()
    }
    n_checked = 0
    for i, read in enumerate(reads):
        want = _reference_extract(read, HEAD, TAIL, min_kmer)
        rid = f"r{i}"
        if want is None:
            assert rid not in got, rid
        else:
            assert got[rid] == [int(x) for x in want], (rid, read.tolist())
            n_checked += 1
    # the fixture must actually exercise extraction, not just rejection
    # (at min_kmer=11 most partial cuts are below k, so fewer reads anchor)
    assert n_checked > (20 if min_kmer >= 11 else 50)


@pytest.mark.parametrize("bad", [-1, 5])
def test_oov_token_under_complement_map_raises_in_extraction(spark, bad):
    """Under a complement map, a token outside its vocabulary raises the
    screen's ValueError instead of being complemented to N (-1 wraps to the
    map's last entry) or failing with a bare IndexError (5)."""
    from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP

    rng = np.random.default_rng(5)
    head = rng.integers(0, 4, 14)
    tail = rng.integers(0, 4, 14)
    # a reverse-complemented read whose inter-flank region holds the token
    read = DNA_COMPLEMENT_MAP[tail][::-1].tolist() + [bad] * 3 \
        + DNA_COMPLEMENT_MAP[head][::-1].tolist()
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ["r0"], "tokens": [np.array(read, np.int32)]})
    )
    with pytest.raises(Exception, match=rf"token {bad} is outside the "
                       r"complement map's vocabulary of 5 tokens"):
        extract_targets(
            df, head.tolist(), tail.tolist(), min_kmer=11,
            complement_map=DNA_COMPLEMENT_MAP,
        ).collect()
