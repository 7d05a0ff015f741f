"""Theta (KMV) sketch: mergeable distinct-count sampling with SET
OPERATIONS (union / intersection / difference) on the sketches themselves.

Standard theta-sketch framework (Dasgupta, Rhodes, et al., the public
Apache DataSketches design): hash values uniformly onto [0, 2^64); retain
the k smallest distinct hashes; θ = the sampling threshold (the (k+1)-th
smallest once full, else 2^64). Every retained hash is a uniform sample of
the distinct universe at rate θ/2^64, so

    estimate = |samples| / (θ / 2^64)        (relative error ≈ 1/√k)

and — the property HLL lacks — sketches COMPOSE under set algebra:
union = merge (min θ, re-trim), intersection/difference = set ops on the
retained samples below min(θa, θb). This gives the reference's U1–U4
union/intersect/distinct operators an approximate, mergeable analog whose
shuffle volume is O(k) per group regardless of data volume.

Value-object contract of sketch/core.py: update_values / merge / to_bytes /
from_bytes, so ``sketch_agg_global`` / ``sketch_agg`` distribute it
unchanged.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

from bloomine_spark.functions.hashing import hash_u64

_MAGIC = b"THE1"
_U64_SPAN = float(2**64)
_THETA_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)


@dataclass
class ThetaSketch:
    k: int
    theta: np.uint64          # exclusive sampling threshold
    samples: np.ndarray       # sorted distinct uint64, all < theta, ≤ k

    @classmethod
    def empty(cls, k: int = 4096) -> "ThetaSketch":
        return cls(k=k, theta=_THETA_MAX, samples=np.empty(0, dtype=np.uint64))

    # cache-blocking chunk (see hll.py): hash + threshold-filter + sort stay
    # L2-resident per chunk; θ tightens as chunks fold in, so later chunks
    # filter more and the retained set stays ≤ k
    _CHUNK = 1 << 16

    # ---------------------------------------------------------------- update
    def update_values(self, values: np.ndarray) -> None:
        v = np.asarray(values)
        for i in range(0, len(v), self._CHUNK):
            h = hash_u64(v[i : i + self._CHUNK])
            h = h[h < self.theta]
            if len(h) == 0:
                continue
            self.samples = np.unique(np.concatenate([self.samples, h]))
            self._trim()

    def update_counts(self, values: np.ndarray, counts: np.ndarray) -> None:
        """Fold a value histogram: the state is the k smallest distinct
        hashes (and θ), a function of the distinct values alone, so it
        equals ``update_values`` on the raw values."""
        self.update_values(values)

    def _trim(self) -> None:
        if len(self.samples) > self.k:
            # θ becomes the (k+1)-th smallest (exclusive threshold)
            self.theta = self.samples[self.k]
            self.samples = self.samples[: self.k]

    # ----------------------------------------------------------------- merge
    def merge(self, other: "ThetaSketch") -> "ThetaSketch":
        if other.k != self.k:
            # silently trimming a k=4096 sketch into a k=512 one would skew
            # estimates (mirrors hll.py's b-mismatch guard)
            raise ValueError(f"theta k mismatch: {self.k} vs {other.k}")
        self.theta = min(self.theta, other.theta)
        merged = np.unique(np.concatenate([self.samples, other.samples]))
        self.samples = merged[merged < self.theta]
        self._trim()
        return self

    # -------------------------------------------------------------- estimate
    def estimate(self) -> float:
        if self.theta == _THETA_MAX:
            return float(len(self.samples))  # exact below k
        return len(self.samples) / (float(self.theta) / _U64_SPAN)

    # ----------------------------------------------------------------- serde
    def to_bytes(self) -> bytes:
        return (
            _MAGIC
            + struct.pack("<IQQ", self.k, int(self.theta), len(self.samples))
            + self.samples.tobytes()
        )

    @classmethod
    def from_bytes(cls, blob: bytes) -> "ThetaSketch":
        if blob[:4] != _MAGIC:  # explicit: asserts vanish under python -O
            raise ValueError("not a theta sketch blob")
        k, theta, n = struct.unpack("<IQQ", blob[4:24])
        samples = np.frombuffer(blob[24 : 24 + 8 * n], dtype=np.uint64).copy()
        return cls(k=k, theta=np.uint64(theta), samples=samples)


# ---------------------------------------------------------------------------
# set algebra on sketches
# ---------------------------------------------------------------------------

def theta_union(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    out = ThetaSketch(a.k, a.theta, a.samples.copy())
    return out.merge(b)


def theta_intersect(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    """Sketch of A ∩ B: both sides' samples are uniform at rate
    min(θa, θb)/2^64, so their intersection below that threshold is a
    uniform sample of A ∩ B at the same rate."""
    theta = min(a.theta, b.theta)
    sa = a.samples[a.samples < theta]
    sb = b.samples[b.samples < theta]
    inter = np.intersect1d(sa, sb, assume_unique=True)
    return ThetaSketch(k=min(a.k, b.k), theta=theta, samples=inter)


def theta_a_not_b(a: ThetaSketch, b: ThetaSketch) -> ThetaSketch:
    theta = min(a.theta, b.theta)
    sa = a.samples[a.samples < theta]
    sb = b.samples[b.samples < theta]
    diff = np.setdiff1d(sa, sb, assume_unique=True)
    return ThetaSketch(k=a.k, theta=theta, samples=diff)
