"""HyperLogLog for distinct-cardinality estimation (e.g. distinct n-grams).

Standard Flajolet–Fuhr–Gandouet–Meunier 2007 construction: m=2^b registers,
register j keeps the max leading-zero rank of hashes routed to it; estimates
use the alpha_m bias constant with linear-counting small-range correction.
Relative error ≤ 1.04/√m. Merge = elementwise register max → exactly
associative and commutative (state-identical under any partition grouping).

This is the sketch the north rule adds on top of the reference's exact
``kmer_array.size()`` distinct count (/root/reference/src/BlooMineUtils.cpp:91);
Spark's built-in ``approx_count_distinct`` (HLL++) is kept as a sanity
baseline in tests, not used in the implementation.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

_MAGIC = b"HLL1"


def _alpha(m: int) -> float:
    if m == 16:
        return 0.673
    if m == 32:
        return 0.697
    if m == 64:
        return 0.709
    return 0.7213 / (1.0 + 1.079 / m)


@dataclass
class HyperLogLog:
    b: int
    registers: np.ndarray  # uint8[2^b]
    hashed_input: bool = False  # True when update_values receives pre-hashed u64

    @classmethod
    def empty(cls, b: int = 12, hashed_input: bool = False) -> "HyperLogLog":
        if not (4 <= b <= 18):
            raise ValueError("b must be in [4,18]")
        return cls(b, np.zeros(1 << b, dtype=np.uint8), hashed_input)

    @property
    def m(self) -> int:
        return 1 << self.b

    # cache-blocking chunk: the whole update pipeline runs over ≤2^15-value
    # slices so every working buffer stays ~256 KB (measured equal to 2^16
    # single-process, and half the cache footprint when 16 workers share
    # the box). The round-1 scaling analysis showed the co-located workers
    # saturate the single VM's memory bus; this cuts per-token DRAM traffic.
    _CHUNK = 1 << 15

    # Persistent per-instance scratch (lazily allocated, never serialized):
    # steady-state updates do ZERO allocation — transient chunk-sized
    # mallocs cost kernel page-zeroing, which serializes the 16-32
    # co-located Python workers of a local-mode executor.
    def _scratch(self):
        s = getattr(self, "_buf", None)
        if s is None:
            n = self._CHUNK
            s = self._buf = (
                np.empty(n, np.uint64),  # hash / rest pipeline
                np.empty(n, np.uint64),  # register index
                np.empty(n, np.float64),  # float view for exponent extract
                np.empty(n, np.uint8),  # rank
            )
        return s

    def update_hashes(self, h: np.ndarray) -> None:
        if len(h) == 0:
            return
        h = np.asarray(h)
        for i in range(0, len(h), self._CHUNK):
            c = h[i : i + self._CHUNK]
            hb = self._scratch()[0][: len(c)]
            np.copyto(hb, c, casting="unsafe")
            self._fold_chunk(hb)

    def _fold_chunk(self, hb: np.ndarray) -> None:
        """Route one hashed chunk into the registers. ``hb`` is the scratch
        hash buffer and is consumed in place."""
        n = len(hb)
        _, ib, fb, rb = self._scratch()
        idx, xf, rank = ib[:n], fb[:n], rb[:n]
        np.right_shift(hb, np.uint64(64 - self.b), out=idx)
        # rest = low bits shifted up, sentinel bit keeps it nonzero
        np.left_shift(hb, np.uint64(self.b), out=hb)
        np.bitwise_or(hb, np.uint64(1) << np.uint64(self.b - 1), out=hb)
        # rank = clz(rest)+1 = 65 - bit_length(rest), read off the float64
        # exponent bits (≈6x faster than branchy binary search; frexp is
        # avoided — its mantissa output is a wasted full-chunk write).
        # Clearing the low 11 bits first prevents round-to-nearest from
        # crossing a power of two (float64 has a 53-bit mantissa).
        if self.b >= 12:
            # the sentinel bit (b-1 ≥ 11) guarantees rest ≥ 2^11, so the
            # cleared value is never zero — no fallback select needed
            np.bitwise_and(hb, ~np.uint64(0x7FF), out=hb)
            np.copyto(xf, hb, casting="unsafe")  # exact u64 -> f64
        else:
            high = hb & ~np.uint64(0x7FF)
            np.copyto(xf, np.where(high == 0, hb, high), casting="unsafe")
        e = xf.view(np.uint64)
        np.right_shift(e, np.uint64(52), out=e)  # IEEE biased exponent
        # bit_length = e - 1022, so rank = 65 - bit_length = 1087 - e
        np.subtract(np.uint64(1087), e, out=e)
        np.copyto(rank, e, casting="unsafe")
        np.maximum.at(self.registers, idx.view(np.int64), rank)

    def update_values(self, values: np.ndarray) -> None:
        if len(values) == 0:
            return
        v = np.asarray(values)
        if self.hashed_input:
            self.update_hashes(v)
            return
        # hash per cache-sized chunk too, in the same scratch buffer, so
        # the hash and rank pipelines share one resident working set
        from bloomine_spark.functions.hashing import splitmix64

        for i in range(0, len(v), self._CHUNK):
            c = v[i : i + self._CHUNK]
            hb = self._scratch()[0][: len(c)]
            np.copyto(hb, c, casting="unsafe")
            splitmix64(hb, inplace=True)
            self._fold_chunk(hb)

    def update_counts(self, values: np.ndarray, counts: np.ndarray) -> None:
        """Fold a value histogram (``values`` distinct, ``counts`` their
        multiplicities): a register keeps a max, so the state depends only
        on the distinct values and equals ``update_values`` on the raw
        values."""
        self.update_values(values)

    def merge(self, other: "HyperLogLog") -> "HyperLogLog":
        if self.b != other.b:
            raise ValueError("register count mismatch")
        np.maximum(self.registers, other.registers, out=self.registers)
        return self

    def estimate(self) -> float:
        m = self.m
        regs = self.registers.astype(np.float64)
        raw = _alpha(m) * m * m / np.sum(np.exp2(-regs))
        if raw <= 2.5 * m:
            zeros = int((self.registers == 0).sum())
            if zeros > 0:
                return m * np.log(m / zeros)  # linear counting
        if raw > (1 << 32) / 30.0:
            return -(1 << 32) * np.log(1.0 - raw / (1 << 32))
        return float(raw)

    def to_bytes(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<bb", self.b, int(self.hashed_input))
            + self.registers.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "HyperLogLog":
        if data[:4] != _MAGIC:
            raise ValueError("not an HLL blob")
        b, hashed = struct.unpack("<bb", data[4:6])
        return cls(b, np.frombuffer(data[6:], dtype=np.uint8).copy(), bool(hashed))
