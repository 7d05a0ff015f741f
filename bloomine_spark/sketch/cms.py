"""Count–min sketch for token frequency estimation.

Cormode–Muthukrishnan 2005: d×w counter matrix, element routed through d
hash rows, point estimate = min over rows. Never underestimates;
overestimate ≤ εN with probability ≥ 1−δ for w≥e/ε, d=⌈ln(1/δ)⌉.
Merge = elementwise add → counter-exact associativity under any partition
grouping.

Row routing: ONE splitmix64 base hash per value, then per-row
multiply-shift (Dietzfelbinger et al. universal family): row r probes
column ``(h * C_r) >> (64 - log2 w)`` with distinct odd constants C_r.
This was chosen over Kirsch–Mitzenmacher ``h1 + r·h2`` after measuring KM's
correlated-tail failure with power-of-two widths (the r-progression lives
in a subgroup of Z/2^k, so multi-row collisions cluster: max overestimate
was ~8x worse than prime-modulo at equal w). Per-row constants restore
prime-quality tails at power-of-two speed — the hot path is one multiply
and one shift per row, no u64 modulo.
"""

from __future__ import annotations

import math
import struct
from dataclasses import dataclass

import numpy as np

from bloomine_spark.functions.hashing import hash_u64, splitmix64

_MAGIC = b"CMS1"


def _row_consts(d: int) -> np.ndarray:
    """d distinct odd multiply-shift constants, deterministic."""
    return splitmix64(np.arange(1, d + 1, dtype=np.uint64)) | np.uint64(1)


@dataclass
class CountMinSketch:
    d: int
    w: int
    counts: np.ndarray  # int64[d, w]
    n: int = 0          # total updates (for the εN bound)

    @classmethod
    def empty(cls, epsilon: float = 1e-3, delta: float = 1e-3) -> "CountMinSketch":
        # w rounds UP to a power of two: the ε bound only tightens
        # (ε' = e/w ≤ ε) and row routing becomes multiply-shift — a u64
        # modulo was ~30% of the per-row routing cost
        w = 1 << math.ceil(math.log2(math.e / epsilon))
        d = math.ceil(math.log(1.0 / delta))
        return cls(d, w, np.zeros((d, w), dtype=np.int64), 0)

    @classmethod
    def with_shape(cls, d: int, w: int) -> "CountMinSketch":
        return cls(d, w, np.zeros((d, w), dtype=np.int64), 0)

    @property
    def _shift(self):
        """64 - log2(w) when w is a power of two (multiply-shift), else
        None (modulo fallback for arbitrary with_shape widths)."""
        if (self.w & (self.w - 1)) == 0:
            return np.uint64(64 - int(math.log2(self.w)))
        return None

    def _consts(self) -> np.ndarray:
        c = getattr(self, "_cs", None)
        if c is None:
            c = self._cs = _row_consts(self.d)
        return c

    def _row_idx(self, h: np.ndarray, r: int) -> np.ndarray:
        t = h * self._consts()[r]
        s = self._shift
        if s is not None:
            return (t >> s).astype(np.int64)
        return (t % np.uint64(self.w)).astype(np.int64)

    # cache-blocking chunk (see hll.py): temporaries for 2^16 values stay
    # L2-resident, so the d routing passes don't stream DRAM per row
    _CHUNK = 1 << 15

    # persistent scratch (see hll.py._scratch): steady-state updates do zero
    # allocation beyond bincount's output row — transient chunk-sized
    # mallocs cost kernel page-zeroing that serializes co-located workers
    def _scratch(self):
        s = getattr(self, "_buf", None)
        if s is None:
            n = self._CHUNK
            s = self._buf = (np.empty(n, np.uint64), np.empty(n, np.uint64))
        return s

    def update_values(self, values: np.ndarray) -> None:
        self._add(np.asarray(values), None)

    def update_counts(self, values: np.ndarray, counts: np.ndarray) -> None:
        """Add ``counts[i]`` occurrences of each ``values[i]`` (a value
        histogram): counter sums and ``n`` equal ``update_values`` on the
        raw values."""
        self._add(np.asarray(values), np.asarray(counts))

    def _add(self, v: np.ndarray, weights) -> None:
        if len(v) == 0:
            return
        from bloomine_spark.functions.hashing import _SM_GAMMA

        cs = self._consts()
        shift = self._shift
        seed_mix = np.uint64(int(_SM_GAMMA))  # seed=1, matches hash_u64
        for i in range(0, len(v), self._CHUNK):
            c = v[i : i + self._CHUNK]
            w = None if weights is None else weights[i : i + self._CHUNK]
            hb, tb = (b[: len(c)] for b in self._scratch())
            # hb = hash_u64(c, seed=1), computed in place
            np.copyto(hb, c, casting="unsafe")
            np.add(hb, seed_mix, out=hb)
            splitmix64(hb, inplace=True)
            for r in range(self.d):
                # one row at a time: bincount beats unbuffered np.add.at
                # ~10x, and never materializing the (d × n) index matrix
                # keeps transient allocations small
                np.multiply(hb, cs[r], out=tb)
                if shift is not None:
                    np.right_shift(tb, shift, out=tb)
                else:
                    np.remainder(tb, np.uint64(self.w), out=tb)
                row = np.bincount(tb.view(np.int64), weights=w, minlength=self.w)
                # weighted sums are float64, exact below 2^53
                self.counts[r] += row if w is None else row.astype(np.int64)
        self.n += len(v) if weights is None else int(weights.sum())

    def estimate_values(self, values: np.ndarray) -> np.ndarray:
        """Vectorized point queries → int64 estimates (min over rows)."""
        if len(values) == 0:
            return np.empty(0, dtype=np.int64)
        h = hash_u64(np.asarray(values), seed=1)
        est = self.counts[0][self._row_idx(h, 0)]
        for r in range(1, self.d):
            est = np.minimum(est, self.counts[r][self._row_idx(h, r)])
        return est

    def estimate(self, value) -> int:
        return int(self.estimate_values(np.array([value]))[0])

    def merge(self, other: "CountMinSketch") -> "CountMinSketch":
        if (self.d, self.w) != (other.d, other.w):
            raise ValueError("shape mismatch")
        self.counts += other.counts
        self.n += other.n
        return self

    def to_bytes(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<qqq", self.d, self.w, self.n)
            + self.counts.tobytes()
        )

    @classmethod
    def from_bytes(cls, data: bytes) -> "CountMinSketch":
        if data[:4] != _MAGIC:
            raise ValueError("not a CMS blob")
        d, w, n = struct.unpack("<qqq", data[4:28])
        counts = np.frombuffer(data[28:], dtype=np.int64).reshape(d, w).copy()
        return cls(d, w, counts, n)
