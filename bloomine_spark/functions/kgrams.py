"""Batch-level k-gram window machinery.

Views an Arrow list column's contiguous values+offsets buffers (one
record batch worth of rows) as flat numpy buffers, zero copy, and derives
per-window row ids, hashes and base-radix codes from them — the
vectorized analog of the reference's per-read ``genKmerSet`` /
``genKmerPosMap`` loops (/root/reference/src/FQread.hpp:105-115,502-512),
with zero per-row Python in the hot path. ``flatten_token_series`` builds
the same flat layout from a pandas Series of token arrays.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import cached_property

import numpy as np
import pandas as pd

from bloomine_spark.functions.hashing import rolling_kgram_hash


@dataclass
class TokenBatch:
    """A flattened batch of token rows.

    values:    concatenated tokens of all rows, in their native int dtype
    flat:      uint64 copy of ``values`` for the hash kernels (widened on
               first use, so consumers that never hash never pay for it)
    lens:      per-row token counts
    offsets:   exclusive prefix sum of lens (row i spans flat[offsets[i]:offsets[i]+lens[i]])
    """

    values: np.ndarray
    lens: np.ndarray
    offsets: np.ndarray

    @cached_property
    def flat(self) -> np.ndarray:
        return self.values.astype(np.uint64, copy=False)

    @property
    def n_rows(self) -> int:
        return len(self.lens)


def flatten_token_series(tokens: pd.Series) -> TokenBatch:
    """Flatten a Series of int arrays into one buffer + offsets (vectorized)."""
    n = len(tokens)
    if n == 0:
        z = np.zeros(0, dtype=np.int64)
        return TokenBatch(z.astype(np.uint64), z, z)
    arrays = tokens.to_numpy()
    lens = np.fromiter((len(a) for a in arrays), dtype=np.int64, count=n)
    total = int(lens.sum())
    if total == 0:
        flat = np.zeros(0, dtype=np.uint64)
    else:
        flat = np.concatenate([np.asarray(a) for a in arrays]).astype(
            np.uint64, copy=False
        )
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(lens[:-1], out=offsets[1:])
    return TokenBatch(flat, lens, offsets)


def token_batch_from_arrow(rb, col: str) -> TokenBatch:
    """Zero-copy TokenBatch from a pyarrow RecordBatch list column.

    Arrow already stores a list column as ONE contiguous child buffer plus
    offsets — exactly the TokenBatch layout — so unlike the pandas path
    there is no per-row ndarray materialization and no concatenate; the
    int32→uint64 widening the hash kernels need happens on first ``flat``
    access.
    """
    import pyarrow as pa

    arr = rb.column(rb.schema.get_field_index(col)) if isinstance(col, str) else col
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy().astype(np.int64, copy=False)
    values = arr.values.to_numpy(zero_copy_only=False)
    lens = np.diff(offsets)
    off = offsets[:-1] - offsets[0]
    return TokenBatch(values[offsets[0] : offsets[-1]], lens, off)


def raw_list_values(rb, col: str) -> np.ndarray:
    """The flat child values of a list column in its NATIVE dtype, zero
    copy. Consumers that chunk-convert anyway (the sketch update kernels'
    scratch-buffer copyto) should take this instead of TokenBatch.flat:
    the eager int32→uint64 widening there writes+rereads 8 bytes per token
    — about 2/3 of the memory traffic of a bandwidth-bound fold."""
    import pyarrow as pa

    arr = rb.column(rb.schema.get_field_index(col)) if isinstance(col, str) else col
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    offsets = arr.offsets.to_numpy()
    values = arr.values.to_numpy(zero_copy_only=False)
    return values[offsets[0] : offsets[-1]]


@dataclass
class WindowSet:
    """All valid length-k windows of a TokenBatch.

    row_ids:  per-window owning row index (non-decreasing)
    starts:   per-window start position *within its row*
    gstarts:  per-window start position in the flat buffer
    hashes:   uint64 polynomial hash of each window
    """

    row_ids: np.ndarray
    starts: np.ndarray
    gstarts: np.ndarray
    hashes: np.ndarray

    @property
    def n_windows(self) -> int:
        return len(self.hashes)


def kgram_windows(batch: TokenBatch, k: int, reverse: bool = False) -> WindowSet:
    """Enumerate every length-k window of every row, with hashes.

    Rows shorter than k contribute no windows — the reference's
    ``limit <= 0 → false`` branch (/root/reference/src/FQread.hpp:72-73).

    With ``reverse=True``, hashes are those of the windows of each *reversed*
    row; ``starts`` are remapped so they index into the reversed row
    (start_rev = len - k - start), keeping (row_ids, starts, hashes)
    consistent for downstream coverage painting.
    """
    n_win_per_row = np.maximum(batch.lens - k + 1, 0)
    total = int(n_win_per_row.sum())
    row_ids = np.repeat(np.arange(batch.n_rows, dtype=np.int64), n_win_per_row)
    if total == 0:
        e = np.zeros(0, dtype=np.int64)
        return WindowSet(row_ids, e, e, np.zeros(0, dtype=np.uint64))

    win_off = np.zeros(batch.n_rows, dtype=np.int64)
    np.cumsum(n_win_per_row[:-1], out=win_off[1:])
    # start of each window within its row: global window index minus the
    # row's first window index
    starts = np.arange(total, dtype=np.int64) - np.repeat(win_off, n_win_per_row)
    gstarts = starts + np.repeat(batch.offsets, n_win_per_row)

    # hash every window position of the flat buffer once, then select the
    # valid (non-row-crossing) ones
    n_flat_windows = max(len(batch.flat) - k + 1, 0)
    all_hashes = rolling_kgram_hash(batch.flat, n_flat_windows, k, reverse=reverse)
    hashes = all_hashes[gstarts]

    if reverse:
        starts = np.repeat(batch.lens, n_win_per_row) - k - starts
    return WindowSet(row_ids, starts, gstarts, hashes)


def window_codes(
    values: np.ndarray, n_windows: int, k: int, radix: int
) -> np.ndarray:
    """Base-``radix`` integer code of every length-k window of ``values``.

    One Horner pass, ``code = code*radix + t`` over k shifted views, in
    int32 on the raw token buffer (no uint64 widening). Window ``i`` gets
    ``sum(values[i+j] * radix**(k-1-j))``; callers guarantee tokens lie in
    ``[0, radix)`` and ``radix**k <= 2**31``. As with the rolling hash,
    windows crossing row boundaries are coded too and masked by the caller.
    """
    values = values.astype(np.int32, copy=False)  # a no-op for Arrow int32
    code = np.zeros(max(n_windows, 0), dtype=np.int32)
    for j in range(k):
        code *= radix
        code += values[j : j + n_windows]
    return code


def iter_cache_slices(rb, tokens_col: str, max_tokens: int = 1 << 16):
    """Zero-copy row slices of an Arrow RecordBatch whose summed token
    counts stay ~cache-sized (max_tokens ≈ 512 KB of uint64 per full-length
    temporary), so downstream whole-buffer kernels keep their numpy
    temporaries L2/L3-resident instead of streaming DRAM — the single-box
    memory-bus saturation diagnosed in BENCH/BASELINE.md. Slicing is
    pyarrow ``RecordBatch.slice`` (buffer views, no copies)."""
    import pyarrow as pa

    arr = rb.column(rb.schema.get_field_index(tokens_col))
    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    off = arr.offsets.to_numpy()
    if int(off[-1] - off[0]) <= max_tokens:
        yield rb
        return
    cum = (off - off[0]).astype(np.int64)  # len n_rows+1, cumulative tokens
    n, start = rb.num_rows, 0
    while start < n:
        end = int(np.searchsorted(cum, cum[start] + max_tokens, side="right")) - 1
        if end <= start:
            end = start + 1  # a single row larger than the budget
        yield rb.slice(start, end - start)
        start = end


def distinct_per_row(row_ids: np.ndarray, hashes: np.ndarray) -> np.ndarray:
    """Boolean mask of the first occurrence of each (row, hash) pair.

    row_ids must be non-decreasing (as produced by kgram_windows).
    Vectorized analog of the reference's dedup-before-count
    (/root/reference/src/FQread.hpp:75-82).
    """
    n = len(hashes)
    if n == 0:
        return np.zeros(0, dtype=bool)
    order = np.lexsort((hashes, row_ids))
    sr = row_ids[order]
    sh = hashes[order]
    first = np.ones(n, dtype=bool)
    first[1:] = (sr[1:] != sr[:-1]) | (sh[1:] != sh[:-1])
    mask = np.zeros(n, dtype=bool)
    mask[order] = first
    return mask


def unique_kgram_hashes(tokens: np.ndarray, k: int) -> np.ndarray:
    """Sorted unique k-gram hashes of ONE token array (target/pattern side)."""
    t = np.asarray(tokens, dtype=np.uint64)
    n_win = max(len(t) - k + 1, 0)
    return np.unique(rolling_kgram_hash(t, n_win, k))


def paint_coverage(
    starts: np.ndarray, k: int, row_len: int
) -> np.ndarray:
    """Boolean coverage mask: position covered iff inside any [s, s+k) window.

    Vectorized interval painting via a difference array — the analog of the
    reference's zero-array stamping (/root/reference/src/FQread.hpp:229-241).
    """
    delta = np.zeros(row_len + 1, dtype=np.int64)
    np.add.at(delta, starts, 1)
    np.add.at(delta, starts + k, -1)
    return np.cumsum(delta[:row_len]) > 0
