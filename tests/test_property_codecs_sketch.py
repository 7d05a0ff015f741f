"""Property-based gates for the round-5 surfaces: MinHash obeys its
algebraic laws on arbitrary value sets, the FASTQ batch chunker
round-trips under any cap, and the band optimizer's output is always
feasible."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from bloomine_spark.sketch.minhash import MinHashSketch


# ------------------------------------------------------- minhash laws

_vals = st.lists(st.integers(min_value=0, max_value=10_000),
                 min_size=0, max_size=300)


@given(_vals, _vals)
@settings(max_examples=50, deadline=None)
def test_minhash_merge_commutes_and_is_idempotent(a_vals, b_vals):
    def sk(vs):
        s = MinHashSketch.empty(32)
        s.update_values(np.asarray(vs, dtype=np.int64))
        return s

    ab = sk(a_vals).merge(sk(b_vals))
    ba = sk(b_vals).merge(sk(a_vals))
    np.testing.assert_array_equal(ab.sig, ba.sig)       # commutative
    again = ab.merge(sk(b_vals))
    np.testing.assert_array_equal(again.sig, ba.sig)    # idempotent
    both = sk(list(a_vals) + list(b_vals))
    np.testing.assert_array_equal(both.sig, ba.sig)     # merge == union
    # serde is the identity
    rt = MinHashSketch.from_bytes(both.to_bytes())
    np.testing.assert_array_equal(rt.sig, both.sig)


@given(_vals)
@settings(max_examples=50, deadline=None)
def test_minhash_self_jaccard_and_subset(vals):
    s = MinHashSketch.empty(32)
    s.update_values(np.asarray(vals, dtype=np.int64))
    assert s.jaccard(s) == 1.0
    if vals:
        # J(A, A∪A) = 1 under any duplication
        d = MinHashSketch.empty(32)
        d.update_values(np.asarray(vals * 2, dtype=np.int64))
        assert s.jaccard(d) == 1.0


# --------------------------------------------------- band optimizer feasible

@given(st.integers(min_value=2, max_value=256),
       st.floats(min_value=0.05, max_value=0.95))
@settings(max_examples=100, deadline=None)
def test_optimal_bands_always_feasible(num_perm, threshold):
    from bloomine_spark.operators.dedup import optimal_minhash_bands

    b, r = optimal_minhash_bands(num_perm, threshold)
    assert 1 <= r <= num_perm and b == num_perm // r
    assert b * r <= num_perm and b >= 1


# --------------------------------------------------- fastq chunking total

@given(st.lists(st.integers(min_value=0, max_value=40),
                min_size=1, max_size=30),
       st.integers(min_value=1, max_value=64))
@settings(max_examples=80, deadline=None)
def test_fastq_record_batches_roundtrip_any_cap(lens, cap):
    import pyarrow as pa

    from bloomine_spark.sources.fastq import _fastq_record_batches

    ids = [f"r{i}" for i in range(len(lens))]
    quals = ["I" * n for n in lens]
    offsets = np.zeros(len(lens) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    flat = np.arange(offsets[-1], dtype=np.int32) % 4
    batches = list(_fastq_record_batches(
        ids, flat, offsets, quals, "s", 1, True, max_tokens=cap
    ))
    tab = pa.Table.from_batches(batches)
    assert tab.column("doc_id").to_pylist() == ids
    got = tab.column("tokens").to_pylist()
    for i in range(len(lens)):
        assert got[i] == flat[offsets[i]:offsets[i + 1]].tolist()
    assert tab.column("n_tok").to_pylist() == list(lens)
