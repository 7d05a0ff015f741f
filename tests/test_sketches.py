"""Published-error-bound and merge-associativity gates for the sketch family
(BASELINE.md rows: HLL ≤1.04/√m, CMS ε–δ, KLL rank error, merge grouping
invariance)."""

import numpy as np
import pytest

from bloomine_spark.sketch.cms import CountMinSketch
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sketch.kll import KLL
from bloomine_spark.sketch.tdigest import TDigest


# --------------------------------------------------------------- HLL
def test_hll_error_bound():
    b = 12  # m=4096 → rel err ≤ 1.04/64 = 1.63%
    for true_card, seed in [(1000, 0), (50_000, 1), (1_000_000, 2)]:
        rng = np.random.default_rng(seed)
        vals = rng.choice(np.arange(true_card * 3), size=true_card, replace=False)
        h = HyperLogLog.empty(b)
        h.update_values(vals)
        rel = abs(h.estimate() - true_card) / true_card
        assert rel < 3 * 1.04 / np.sqrt(1 << b), (true_card, rel)


def test_hll_small_range_linear_counting():
    h = HyperLogLog.empty(12)
    h.update_values(np.arange(10))
    assert abs(h.estimate() - 10) < 1


def test_hll_merge_state_exact_across_groupings():
    rng = np.random.default_rng(3)
    data = rng.integers(0, 10**9, 100_000)
    whole = HyperLogLog.empty(12)
    whole.update_values(data)
    for n_parts in (2, 4, 8, 13):
        parts = np.array_split(data, n_parts)
        merged = HyperLogLog.empty(12)
        for p in rng.permutation(n_parts):
            h = HyperLogLog.empty(12)
            h.update_values(parts[p])
            merged.merge(h)
        assert (merged.registers == whole.registers).all()
        assert merged.estimate() == whole.estimate()


def test_hll_serde():
    h = HyperLogLog.empty(10)
    h.update_values(np.arange(1000))
    h2 = HyperLogLog.from_bytes(h.to_bytes())
    assert h2.estimate() == h.estimate()


# --------------------------------------------------------------- CMS
def test_cms_never_underestimates_and_eps_bound():
    eps, delta = 1e-3, 1e-3
    rng = np.random.default_rng(4)
    # zipf-ish stream
    stream = rng.zipf(1.2, 200_000) % 5000
    cms = CountMinSketch.empty(eps, delta)
    cms.update_values(stream)
    uniq, true_counts = np.unique(stream, return_counts=True)
    est = cms.estimate_values(uniq)
    assert (est >= true_counts).all()
    overshoot = est - true_counts
    n = len(stream)
    # ε·N bound should hold for (almost) all; allow the δ slack
    assert (overshoot <= eps * n).mean() > 1 - 2 * delta


def test_cms_merge_counter_exact_across_groupings():
    rng = np.random.default_rng(5)
    data = rng.integers(0, 1000, 50_000)
    whole = CountMinSketch.empty(1e-3, 1e-2)
    whole.update_values(data)
    for n_parts in (3, 7):
        merged = CountMinSketch.empty(1e-3, 1e-2)
        for p in np.array_split(data, n_parts):
            part = CountMinSketch.empty(1e-3, 1e-2)
            part.update_values(p)
            merged.merge(part)
        assert (merged.counts == whole.counts).all()
        assert merged.n == whole.n


def test_cms_serde():
    cms = CountMinSketch.empty(1e-2, 1e-2)
    cms.update_values(np.arange(100))
    c2 = CountMinSketch.from_bytes(cms.to_bytes())
    assert (c2.counts == cms.counts).all() and c2.n == cms.n


# --------------------------------------------------------------- KLL
def test_kll_rank_error_bound():
    rng = np.random.default_rng(6)
    n = 200_000
    data = rng.random(n)
    sk = KLL(k=200)
    sk.update_values(data)
    data_sorted = np.sort(data)
    max_err = 0.0
    for q in (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99):
        est = sk.quantile(q)
        true_rank = np.searchsorted(data_sorted, est) / n
        max_err = max(max_err, abs(true_rank - q))
    # k=200 → ε ≈ 1.7%/3% typ; gate at 3%
    assert max_err < 0.03, max_err


def test_kll_merge_bound_across_groupings():
    rng = np.random.default_rng(7)
    n = 120_000
    data = rng.normal(size=n)
    data_sorted = np.sort(data)
    for n_parts in (2, 5, 16):
        parts = np.array_split(data, n_parts)
        merged = KLL(k=200)
        for i, p in enumerate(parts):
            piece = KLL(k=200, seed=100 + i)
            piece.update_values(p)
            merged.merge(piece)
        assert merged.n == n
        for q in (0.05, 0.5, 0.95):
            est = merged.quantile(q)
            true_rank = np.searchsorted(data_sorted, est) / n
            assert abs(true_rank - q) < 0.04, (n_parts, q, true_rank)


def test_kll_serde_and_small_n():
    sk = KLL(k=50)
    sk.update_values(np.array([3.0, 1.0, 2.0]))
    sk2 = KLL.from_bytes(sk.to_bytes())
    assert sk2.quantile(0.5) == 2.0
    assert sk2.n == 3


# --------------------------------------------------------------- t-digest
def test_tdigest_quantile_accuracy():
    rng = np.random.default_rng(8)
    n = 200_000
    data = rng.exponential(size=n)
    td = TDigest(100.0)
    td.update_values(data)
    data_sorted = np.sort(data)
    for q in (0.01, 0.5, 0.99, 0.999):
        est = td.quantile(q)
        true_rank = np.searchsorted(data_sorted, est) / n
        assert abs(true_rank - q) < 0.01, (q, true_rank)


def test_tdigest_merge_across_groupings():
    rng = np.random.default_rng(9)
    n = 90_000
    data = rng.normal(size=n)
    data_sorted = np.sort(data)
    for n_parts in (3, 9):
        merged = TDigest(100.0)
        for p in np.array_split(data, n_parts):
            piece = TDigest(100.0)
            piece.update_values(p)
            merged.merge(piece)
        assert merged.n == pytest.approx(n)
        for q in (0.05, 0.5, 0.95):
            est = merged.quantile(q)
            true_rank = np.searchsorted(data_sorted, est) / n
            assert abs(true_rank - q) < 0.015, (n_parts, q, true_rank)


def test_tdigest_serde():
    td = TDigest(50.0)
    td.update_values(np.arange(1000, dtype=float))
    td2 = TDigest.from_bytes(td.to_bytes())
    assert td2.quantile(0.5) == pytest.approx(td.quantile(0.5))


def test_composite_sketch_equals_separate_passes():
    """CompositeSketch(update→merge→serde) must agree member-by-member with
    running each sketch alone — the fused fold changes the scan count, not
    the math."""
    import numpy as np

    from bloomine_spark.sketch.cms import CountMinSketch
    from bloomine_spark.sketch.core import CompositeSketch
    from bloomine_spark.sketch.mg import MisraGries

    rng = np.random.default_rng(7)
    part_a = rng.zipf(1.4, 20000).astype(np.int64)
    part_b = rng.zipf(1.4, 30000).astype(np.int64)

    def fold(mk, parts):
        sks = []
        for p in parts:
            s = mk()
            s.update_values(p)
            sks.append(s)
        m = sks[0]
        for s in sks[1:]:
            m.merge(s)
        return m

    from bloomine_spark.sketch.minhash import MinHashSketch

    comp = fold(
        lambda: CompositeSketch(
            [CountMinSketch.empty(1e-3, 1e-2), MisraGries(64),
             MinHashSketch.empty(64)]
        ),
        [part_a, part_b],
    )
    # serde round-trip reconstructs member classes by name
    comp = CompositeSketch.from_bytes(comp.to_bytes())
    cms_alone = fold(lambda: CountMinSketch.empty(1e-3, 1e-2), [part_a, part_b])
    mg_alone = fold(lambda: MisraGries(64), [part_a, part_b])
    mh_alone = fold(lambda: MinHashSketch.empty(64), [part_a, part_b])
    cms_c, mg_c, mh_c = comp.sketches
    probe = np.unique(np.concatenate([part_a[:500], part_b[:500]]))
    assert (cms_c.estimate_values(probe) == cms_alone.estimate_values(probe)).all()
    assert mg_c.top_k(20) == mg_alone.top_k(20)
    np.testing.assert_array_equal(mh_c.sig, mh_alone.sig)


def test_composite_sketch_arity_mismatch_raises():
    import pytest as _pytest

    from bloomine_spark.sketch.core import CompositeSketch
    from bloomine_spark.sketch.mg import MisraGries

    a = CompositeSketch([MisraGries(8)])
    b = CompositeSketch([MisraGries(8), MisraGries(8)])
    with _pytest.raises(ValueError):
        a.merge(b)


class _Outer:
    """Module-level host for a NESTED sketch class (qualname contains a
    dot) — CompositeSketch serde must resolve dotted qualnames on
    deserialize (executors import by name, not by pickle)."""

    class InnerHLL(HyperLogLog):
        pass


def test_composite_serde_nested_class_member():
    from bloomine_spark.sketch.core import CompositeSketch

    inner = _Outer.InnerHLL.empty(8)
    inner.update_values(np.arange(500, dtype=np.int64))
    comp = CompositeSketch([inner])
    back = CompositeSketch.from_bytes(comp.to_bytes())
    assert type(back.sketches[0]) is _Outer.InnerHLL
    assert back.sketches[0].estimate() == inner.estimate()


# ---------------------------------------------------------------------------
# composite value-histogram path: byte-identical to per-member raw updates
# ---------------------------------------------------------------------------

def _hist_members(hashed_input=False):
    from bloomine_spark.sketch.theta import ThetaSketch

    return [
        HyperLogLog.empty(12, hashed_input=hashed_input),
        CountMinSketch.empty(1e-3, 1e-3),
        KLL(k=200),
        ThetaSketch.empty(4096),
    ]


def _boundary_values():
    # many distinct values (theta trims, several update chunks), 0 and
    # len-1 both present: the largest input the gate accepts
    v = np.random.default_rng(3).integers(0, 100_000, 100_000)
    v[0], v[-1] = 0, len(v) - 1
    return v


def _vocab(dtype):
    return np.random.default_rng(1).integers(0, 256, 100_000).astype(dtype)


HIST_CASES = {
    # name: (values, hashed_input HLL, histogram gate accepts)
    "int32": (lambda: _vocab(np.int32), False, True),
    "int64": (lambda: _vocab(np.int64), False, True),
    "zero-and-len-1": (_boundary_values, False, True),
    "negative": (lambda: np.append(_vocab(np.int64), -1), False, False),
    "max-eq-len": (lambda: np.append(_vocab(np.int64)[:299], 300), False, False),
    "float64": (lambda: _vocab(np.float64), False, False),
    "hashed-u64": (
        lambda: np.random.default_rng(2).integers(
            0, np.iinfo(np.uint64).max, 50_000, dtype=np.uint64, endpoint=True
        ),
        True,
        False,
    ),
    "empty": (lambda: np.empty(0, dtype=np.int64), False, False),
}


@pytest.mark.parametrize("case", list(HIST_CASES))
def test_composite_histogram_path_is_byte_identical(case):
    """CompositeSketch([HLL, CMS, KLL, theta]) state equals, byte for byte,
    each member's own update_values on the raw values — whether the value
    histogram gate takes the values or not."""
    from bloomine_spark.sketch.core import CompositeSketch, value_histogram

    make, hashed, accepted = HIST_CASES[case]
    values = make()
    assert (value_histogram(values) is not None) == accepted
    comp = CompositeSketch(_hist_members(hashed))
    alone = _hist_members(hashed)
    for _ in range(2):  # a second batch folds into non-empty states
        comp.update_values(values)
        for sk in alone:
            sk.update_values(values)
    for got, want in zip(comp.sketches, alone):
        assert got.to_bytes() == want.to_bytes(), type(got).__name__


def test_cms_update_counts_adds_counts_and_n():
    cms = CountMinSketch.empty(1e-2, 1e-2)
    cms.update_counts(np.array([3, 7, 11]), np.array([5, 1, 2]))
    assert cms.n == 8
    assert cms.counts.dtype == np.int64
    assert (cms.counts.sum(axis=1) == 8).all()
    raw = CountMinSketch.empty(1e-2, 1e-2)
    raw.update_values(np.repeat([3, 7, 11], [5, 1, 2]))
    np.testing.assert_array_equal(cms.counts, raw.counts)
    assert cms.estimate(3) >= 5 and cms.estimate(11) >= 2
