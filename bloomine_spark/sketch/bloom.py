"""Mergeable Bloom filter over uint64 element hashes.

Sizing reproduces the reference exactly, including its quirks
(/root/reference/src/BloomFilter.hpp:56-82):

  m = int(-(n * ln p) / ln(2)^2)          # C++ double→int truncation
  k = int((m // n) * ln 2)                # INTEGER division m/n first

Probe i of an element hash is one independent splitmix64 round
(``functions.hashing.bloom_probe_index``) — portable, unlike the
reference's implementation-defined ``std::hash<string>(el + str(i))``
(src/BloomFilter.hpp:91-93); decisions, not bit arrays, are what we match
(SURVEY.md §7).

The bit array is a packed ``np.uint8`` buffer, so a filter merge is a
single ``np.bitwise_or`` — the distributive-aggregate property that makes
this a mergeable UDAF (SURVEY.md §2.3 A1).
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from bloomine_spark.functions.hashing import double_hash_indices

_MAGIC = b"BLM1"


def reference_sizing(n_elements: int, fp: float) -> tuple[int, int]:
    """(m_bits, n_hashes) with the reference's integer-truncation quirks."""
    if n_elements <= 0:
        raise ValueError("n_elements must be positive")
    m = int(-(n_elements * math.log(fp)) / (math.log(2) ** 2))
    m = max(m, 1)
    k = int((m // n_elements) * math.log(2))
    k = max(k, 1)
    return m, k


@dataclass
class BloomFilter:
    m: int
    n_hashes: int
    bits: np.ndarray  # packed uint8, ceil(m/8) bytes

    @classmethod
    def empty(cls, m: int, n_hashes: int) -> "BloomFilter":
        return cls(m, n_hashes, np.zeros((m + 7) // 8, dtype=np.uint8))

    @classmethod
    def sized(cls, n_elements: int, fp: float) -> "BloomFilter":
        m, k = reference_sizing(n_elements, fp)
        return cls.empty(m, k)

    @classmethod
    def build(cls, hashes: np.ndarray, fp: float) -> "BloomFilter":
        """Build from the (deduplicated) element hash set, sized for it.

        Mirrors generateBloomFilter (/root/reference/src/BlooMineUtils.cpp:76-99).
        """
        uniq = np.unique(np.asarray(hashes, dtype=np.uint64))
        bf = cls.sized(len(uniq), fp)
        bf.update_hashes(uniq)
        return bf

    def update_hashes(self, hashes: np.ndarray) -> None:
        if len(hashes) == 0:
            return
        idx = double_hash_indices(
            np.asarray(hashes, dtype=np.uint64), self.n_hashes, self.m
        ).ravel()
        np.bitwise_or.at(
            self.bits, (idx >> np.uint64(3)).astype(np.int64),
            (np.uint8(1) << (idx & np.uint64(7)).astype(np.uint8)),
        )

    def contains_hashes(self, hashes: np.ndarray) -> np.ndarray:
        """Vectorized membership test → bool array.

        Probes with CANDIDATE COMPRESSION: after each probe only surviving
        elements are carried forward, so (a) probe work decays geometrically
        with the filter's fill ratio instead of costing n_hashes·n, and
        (b) no (n_hashes × n) index matrix is ever materialized — large
        transient allocations serialize multi-worker executors on kernel
        page zeroing (measured: 16 workers collapsed 4x on fat tasks).
        """
        from bloomine_spark.functions.hashing import bloom_probe_index

        h = np.asarray(hashes, dtype=np.uint64)
        n = len(h)
        if n == 0:
            return np.zeros(0, dtype=bool)
        cand = np.arange(n, dtype=np.int64)
        h1c = h
        mm = np.uint64(self.m)
        for i in range(self.n_hashes):
            idx = bloom_probe_index(h1c, i, mm)
            byte = self.bits[(idx >> np.uint64(3)).astype(np.int64)]
            keep = ((byte >> (idx & np.uint64(7)).astype(np.uint8))
                    & np.uint8(1)).astype(bool)
            cand = cand[keep]
            if len(cand) == 0:
                break
            h1c = h1c[keep]
        out = np.zeros(n, dtype=bool)
        out[cand] = True
        return out

    def merge(self, other: "BloomFilter") -> "BloomFilter":
        if (self.m, self.n_hashes) != (other.m, other.n_hashes):
            raise ValueError("cannot merge Bloom filters with different shapes")
        np.bitwise_or(self.bits, other.bits, out=self.bits)
        return self

    def to_bytes(self) -> bytes:
        return _MAGIC + struct.pack("<qq", self.m, self.n_hashes) + self.bits.tobytes()

    @classmethod
    def from_bytes(cls, data: bytes) -> "BloomFilter":
        if data[:4] != _MAGIC:
            raise ValueError("not a BloomFilter blob")
        m, k = struct.unpack("<qq", data[4:20])
        bits = np.frombuffer(data[20:], dtype=np.uint8).copy()
        return cls(m, k, bits)

    def fill_ratio(self) -> float:
        return float(np.unpackbits(self.bits)[: self.m].mean())
