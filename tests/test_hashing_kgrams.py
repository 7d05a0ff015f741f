import numpy as np
import pandas as pd

from bloomine_spark.functions.hashing import (
    double_hash_indices,
    rolling_kgram_hash,
    splitmix64,
)
from bloomine_spark.functions.kgrams import (
    FlatWindows,
    distinct_per_row,
    flatten_token_series,
    kgram_index,
)


def test_splitmix_deterministic_and_dispersed():
    x = np.arange(10000, dtype=np.uint64)
    h1 = splitmix64(x)
    h2 = splitmix64(x)
    assert (h1 == h2).all()
    assert len(np.unique(h1)) == len(x)
    # bits look uniform-ish: mean of top bit ≈ 0.5
    assert abs((h1 >> np.uint64(63)).mean() - 0.5) < 0.02


def test_reverse_hash_equals_hash_of_reversed_sequence():
    rng = np.random.default_rng(0)
    seq = rng.integers(0, 256, 50).astype(np.uint64)
    k = 7
    fwd_of_reversed = rolling_kgram_hash(seq[::-1].copy(), len(seq) - k + 1, k)
    rev = rolling_kgram_hash(seq, len(seq) - k + 1, k, reverse=True)
    # window i of reversed seq == reversed window (n-k-i) of seq
    assert (fwd_of_reversed == rev[::-1]).all()


def test_flat_windows_rows_and_reverse_starts():
    s = pd.Series([np.array([1, 2, 3, 4, 5]), np.array([9, 9]), np.array([7, 8, 9])])
    batch = flatten_token_series(s)
    k = 3
    win = FlatWindows(batch, k)
    rows, valid = win.rows_of(np.arange(win.n_windows))
    pos, rows = np.flatnonzero(valid), rows[valid]
    # row 0: 3 windows, row 1 (len<k): 0, row 2: 1 window
    assert rows.tolist() == [0, 0, 0, 2]
    assert win.starts_of(pos, rows, False).tolist() == [0, 1, 2, 0]
    # reverse starts are mirrored
    assert win.starts_of(pos, rows, True).tolist() == [2, 1, 0, 0]
    # reverse hashes equal hashes of the reversed rows
    rev_batch = flatten_token_series(
        s.apply(lambda a: np.ascontiguousarray(a[::-1]))
    )
    win_rev = FlatWindows(rev_batch, k)
    rev_pos = np.flatnonzero(win_rev.rows_of(np.arange(win_rev.n_windows))[1])
    assert sorted(win_rev.hashes()[rev_pos].tolist()) == sorted(
        win.hashes(True)[pos].tolist()
    )


def test_distinct_per_row():
    row_ids = np.array([0, 0, 0, 1, 1])
    hashes = np.array([5, 5, 6, 5, 5], dtype=np.uint64)
    mask = distinct_per_row(row_ids, hashes)
    assert mask.tolist() == [True, False, True, True, False]


def test_unique_kgram_hashes_period4_fixture():
    # token analog of ACGTACGTACGT: 12 tokens period 4, k=7 → 6 windows,
    # 4 distinct (offsets mod 4)
    seq = np.array([1, 2, 3, 4] * 3)
    u = kgram_index(seq, 7).hashes
    assert len(u) == 4


def test_double_hash_indices_in_range_and_distinct_probes():
    h = splitmix64(np.arange(100, dtype=np.uint64))
    idx = double_hash_indices(h, 13, 997)
    assert idx.max() < 997
    # probes for one element are not all equal
    assert len(np.unique(idx[:, 0])) > 1
