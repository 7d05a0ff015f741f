"""Vectorized 64-bit hashing for k-gram windows and sketch kernels.

The reference hashes each k-mer string with the implementation-defined
``std::hash<std::string>(element + std::to_string(i))``
(/root/reference/src/BloomFilter.hpp:91-93,108-110), which is not portable.
We instead use a seedable polynomial rolling hash over int tokens finished
with a splitmix64-style mixer, and derive the i-th Bloom probe of a hash
with one more independent splitmix64 round per probe (``bloom_probe_index``;
the reference's own ``dependencies`` file names ``mmh3`` for the same
purpose). Filter *decisions* are matched against the reference semantics,
not bit arrays — see SURVEY.md §7 "hard parts".

All arithmetic is numpy uint64 (wrapping mod 2^64), fully vectorized.
"""

from __future__ import annotations

import numpy as np

# FNV-1a 64-bit prime as the polynomial base; any odd constant works.
_POLY_P = np.uint64(0x100000001B3)

_SM_GAMMA = np.uint64(0x9E3779B97F4A7C15)
_SM_M1 = np.uint64(0xBF58476D1CE4E5B9)
_SM_M2 = np.uint64(0x94D049BB133111EB)


def splitmix64(x: np.ndarray, inplace: bool = False) -> np.ndarray:
    """Vectorized splitmix64 finalizer (Steele et al., public domain).

    With ``inplace=True`` the input buffer is consumed — callers in the hot
    path pass throwaway buffers to cut transient-allocation churn (large
    temporaries serialize multi-worker executors on kernel page zeroing).
    """
    x = np.asarray(x, dtype=np.uint64)
    if not inplace:
        x = x + _SM_GAMMA
    else:
        x += _SM_GAMMA
    x ^= x >> np.uint64(30)
    x *= _SM_M1
    x ^= x >> np.uint64(27)
    x *= _SM_M2
    x ^= x >> np.uint64(31)
    return x


def hash_u64(values: np.ndarray, seed: int = 0) -> np.ndarray:
    """Hash an integer array elementwise to uint64."""
    v = values.astype(np.uint64, copy=False)
    mix = (seed * int(_SM_GAMMA)) % (1 << 64)
    return splitmix64(v + np.uint64(mix))


def rolling_kgram_hash(
    flat: np.ndarray, n_windows: int, k: int, reverse: bool = False
) -> np.ndarray:
    """Polynomial hash of every length-k window of ``flat`` (uint64 in/out).

    ``flat`` is the concatenation of all rows' tokens; windows crossing row
    boundaries must be masked out by the caller. With ``reverse=True`` the
    tokens of each window are consumed right-to-left, which yields the hash
    each window would have in the *reversed* sequence — the vectorized analog
    of the reference's reverse-complement retry re-hashing
    (/root/reference/src/BlooMineUtils.cpp:348-364).
    """
    if n_windows <= 0:
        return np.empty(0, dtype=np.uint64)
    flat = flat.astype(np.uint64, copy=False)
    h = np.zeros(n_windows, dtype=np.uint64)
    js = range(k - 1, -1, -1) if reverse else range(k)
    for j in js:
        # in-place: slices of flat are views, so the whole recurrence
        # allocates nothing beyond h itself
        h *= _POLY_P
        h += flat[j : j + n_windows]
    return splitmix64(h, inplace=True)


def code_kgram_hashes(
    radix: int, k: int, token_map: np.ndarray | None = None,
    reverse: bool = False,
) -> np.ndarray:
    """``rolling_kgram_hash`` of every possible length-k window over the
    alphabet ``[0, radix)``, indexed by the window's base-radix code
    (``functions.kgrams.window_codes``: ``sum(t_j * radix**(k-1-j))``).

    Entry c is the hash ``rolling_kgram_hash(token_map[w], 1, k, reverse)``
    of the window w of code c (``token_map`` None = identity). The same
    polynomial is built digit by digit over the code tree, so the radix^k
    hashes cost about radix^k multiply-adds instead of k each.
    """
    alphabet = np.arange(radix, dtype=np.uint64)
    if token_map is not None:
        alphabet = np.asarray(token_map)[:radix].astype(np.uint64)
    h = alphabet
    for _ in range(k - 1):
        if reverse:  # h(t_0 w) = t_0 + P*h(w): t_0 is consumed last
            h = (alphabet[:, None] + h[None, :] * _POLY_P).ravel()
        else:        # h(w t) = P*h(w) + t
            h = (h[:, None] * _POLY_P + alphabet[None, :]).ravel()
    return splitmix64(h)


def bloom_probe_index(
    h: np.ndarray, i: int, m: np.uint64
) -> np.ndarray:
    """Probe index for hash round ``i``: one splitmix64 per probe, each
    round independently mixed. The shared single source of truth for Bloom
    build AND query paths — the two must agree bit-for-bit."""
    # scalar product in python ints (numpy warns on scalar uint64 overflow;
    # the mod-2^64 wraparound is exactly what we want)
    off = np.uint64(((i + 1) * int(_SM_GAMMA)) & 0xFFFFFFFFFFFFFFFF)
    return splitmix64(h + off) % m


def double_hash_indices(
    h: np.ndarray, n_hashes: int, m: int
) -> np.ndarray:
    """Per-round independent Bloom probe indices, shape (n_hashes, len(h)).

    Previously Kirsch–Mitzenmacher ``(h1 + i*h2) mod m`` — which has a
    composite-m pathology: whenever ``gcd(h2 mod m, m) > 1`` the probe
    walk visits only ``m/gcd`` distinct slots before cycling. For the
    reference-sized 2-element filter (m = 86 = 2·43), ~1/43 of queried
    elements probe exactly TWO bits, putting a ~1e-2 floor under ANY
    configured fpp (observed: fp=1e-9 filters returning false positives
    on 500-doc corpora). Independent per-round mixing has no walk and
    hence no cycle structure; the cost is one splitmix64 per surviving
    probe, and candidate compression in ``contains_hashes`` keeps the
    expected rounds per non-member near 1/(1-fill).
    """
    mm = np.uint64(m)
    out = np.empty((n_hashes, h.shape[0]), dtype=np.uint64)
    for i in range(n_hashes):
        out[i] = bloom_probe_index(h, i, mm)
    return out
