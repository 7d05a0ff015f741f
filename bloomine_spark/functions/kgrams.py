"""Batch-level k-gram window machinery: the one window enumeration, the
one k-gram index and the one exact-match function.

Views an Arrow list column's contiguous values+offsets buffers (one
record batch worth of rows) as flat numpy buffers, zero copy.
``FlatWindows`` keys every length-k window of the flat buffer (base-radix
codes, or hashes in either orientation) and derives row ids and in-row
starts only for the positions a probe keeps — the vectorized analog of
the reference's per-read ``genKmerSet`` / ``genKmerPosMap`` loops
(reference src/FQread.hpp:105-115,502-512), with zero per-row Python in
the hot path. ``KgramIndex`` holds a pattern's sorted unique k-gram
hashes, the first pattern window of each and its tokens;
``exact_matches`` finds the windows whose tokens equal one of them. The
screen's k-gram verification (src/FQread.hpp:233-241), its exact mode
and the MOI flank anchor search (bloomine/moi.py:80-128) all go through
it. ``flatten_token_series`` builds the same flat layout from a pandas
Series of token arrays.
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


def token_range(
    values: np.ndarray, complement_map: np.ndarray | None = None
) -> tuple[int, int]:
    """(min, max) token of a non-empty ``values``.

    Raises ValueError for a token outside ``complement_map``'s vocabulary:
    the map could not complement it (a negative token would wrap around
    to the map's last entry).
    """
    lo, hi = int(values.min()), int(values.max())
    if complement_map is not None:
        vocab = len(complement_map)
        if lo < 0 or hi >= vocab:
            bad = lo if lo < 0 else hi
            raise ValueError(
                f"token {bad} is outside the complement map's vocabulary "
                f"of {vocab} tokens (0..{vocab - 1})"
            )
    return lo, hi


class FlatWindows:
    """All length-k windows of the FLAT buffer, in both orientations, row
    structure derived lazily: per-window keys (base-``radix`` codes, or
    hashes computed on first use) cover every flat position once; row ids /
    in-row starts / validity are materialized only for the (few) positions
    that survive a probe. This keeps per-batch transient allocations to the
    key arrays themselves — large temporaries serialize multi-worker
    executors on kernel page zeroing.

    The reverse orientation is the reverse complement: ``complement_map``
    (a vocabulary permutation, or None for plain reversal) then reversal.
    A token outside the map's vocabulary raises ValueError (``token_range``).
    """

    def __init__(self, batch: TokenBatch, k: int,
                 complement_map: np.ndarray | None = None,
                 radix: int | None = None):
        if complement_map is not None and len(batch.values):
            token_range(batch.values, complement_map)
        self.batch = batch
        self.k = k
        self.complement_map = complement_map
        self.radix = radix
        self.n_windows = max(len(batch.values) - k + 1, 0)
        self.codes = (
            None if radix is None
            else window_codes(batch.values, self.n_windows, k, radix)
        )
        self._hashes: dict[bool, np.ndarray] = {}
        self._row_ends = batch.offsets + batch.lens

    def hashes(self, reverse: bool = False) -> np.ndarray:
        """Hash of every window (``reverse``: of its reverse complement)."""
        h = self._hashes.get(reverse)
        if h is None:
            flat = self.batch.flat
            if reverse and self.complement_map is not None:
                flat = self.complement_map[flat.astype(np.int64)].astype(np.uint64)
            h = rolling_kgram_hash(flat, self.n_windows, self.k, reverse=reverse)
            self._hashes[reverse] = h
        return h

    def tokens(self, pos: np.ndarray, reverse: bool) -> np.ndarray:
        """(len(pos), k) int64 tokens of the windows at ``pos``, reverse
        complemented when ``reverse``."""
        gather = pos[:, None] + np.arange(self.k, dtype=np.int64)[None, :]
        toks = self.batch.values[gather].astype(np.int64)
        if reverse:
            if self.complement_map is not None:
                toks = self.complement_map[toks]
            toks = toks[:, ::-1]
        return toks

    def rows_of(self, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(row_ids, valid_mask) for flat window positions: a window is
        valid when it ends inside its row (rows shorter than k have none,
        the reference's ``limit <= 0 → false`` branch, src/FQread.hpp:72-73)."""
        rows = np.searchsorted(self.batch.offsets, pos, side="right") - 1
        valid = pos + self.k <= self._row_ends[rows]
        return rows, valid

    def in_rows(
        self, pos: np.ndarray, row_mask: np.ndarray | None = None
    ) -> tuple[np.ndarray, np.ndarray]:
        """(pos, row_ids) of the valid windows at ``pos`` whose row is in
        ``row_mask`` (every row when None)."""
        rows, valid = self.rows_of(pos)
        if row_mask is not None:
            valid &= row_mask[rows]
        return pos[valid], rows[valid]

    def starts_of(self, pos: np.ndarray, rows: np.ndarray,
                  reverse: bool) -> np.ndarray:
        """In-row window starts; when ``reverse``, the start of the reverse
        complemented window in the reverse complemented row."""
        starts = pos - self.batch.offsets[rows]
        if reverse:
            starts = self.batch.lens[rows] - self.k - starts
        return starts


@dataclass
class KgramIndex:
    """A pattern's k-grams keyed by hash.

    hashes:  sorted unique uint64 k-gram hashes
    first:   per hash, the first pattern window with that hash
    rows:    per hash, the (k,) int64 tokens of that window
    """

    hashes: np.ndarray
    first: np.ndarray
    rows: np.ndarray

    @classmethod
    def of_windows(cls, hashes: np.ndarray, windows: np.ndarray) -> "KgramIndex":
        """Index of pattern windows given as their hashes and (n, k) tokens.
        Equal hashes keep their first window (stable sort), so a lookup
        confirms against one token row per hash."""
        order = np.argsort(hashes, kind="stable")
        sh = hashes[order]
        head = np.ones(len(sh), dtype=bool)
        head[1:] = sh[1:] != sh[:-1]
        first = order[head]
        return cls(sh[head], first,
                   np.ascontiguousarray(windows[first], dtype=np.int64))

    def __len__(self) -> int:
        return len(self.hashes)

    def lookup(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(index into this index's arrays, hash-is-member mask)."""
        idx = np.searchsorted(self.hashes, hashes)
        np.minimum(idx, len(self.hashes) - 1, out=idx)
        return idx, self.hashes[idx] == hashes


def kgram_index(tokens, k: int) -> KgramIndex:
    """``KgramIndex`` of every length-k window of ONE token array."""
    t = np.asarray(tokens, dtype=np.int64)
    n = max(len(t) - k + 1, 0)
    windows = (np.lib.stride_tricks.sliding_window_view(t, k) if n
               else np.zeros((0, k), dtype=np.int64))
    return KgramIndex.of_windows(
        rolling_kgram_hash(t.astype(np.uint64), n, k), windows
    )


def exact_matches(
    win: FlatWindows, index: KgramIndex, reverse: bool,
    row_mask: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(pos, rows, kmer_idx) of the valid windows of ``win`` in the rows of
    ``row_mask`` whose tokens, reverse complemented when ``reverse``, equal
    a k-gram of ``index``: flat position, row id and the first pattern
    window of the matched k-gram.

    Hash membership finds the candidates; the token check against the
    index's rows then keeps hash collisions from matching — the
    reference's exact map lookup (src/FQread.hpp:233-241).
    """
    idx, member = index.lookup(win.hashes(reverse))
    pos, rows = win.in_rows(np.flatnonzero(member), row_mask)
    idx = idx[pos]
    ok = (win.tokens(pos, reverse) == index.rows[idx]).all(axis=1)
    return pos[ok], rows[ok], index.first[idx[ok]]


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

    row_ids must be non-decreasing (as ``FlatWindows.rows_of`` gives for
    ascending positions).
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
