"""The keyed-state driver of the streaming monitors, without a Spark query.

``FakeStream`` stands in for a streaming DataFrame: its ``groupBy(...)
.applyInPandasWithState(...)`` records the per-key function and the
arguments instead of planning a query, and ``FakeGroupState`` holds one
key's state in memory, so each trigger of a monitor is one plain call.
"""

import numpy as np
import pandas as pd
from pyspark.sql.streaming.state import GroupStateTimeout

from bloomine_spark.sketch.countsketch import CountSketch
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sketch.mg import MisraGries
from bloomine_spark.streaming.stream_ops import (
    f2_by_key_stream,
    heavy_hitters_by_key_stream,
    hll_distinct_by_key_stream,
    priority_sample_by_key_stream,
)


class FakeGroupState:
    def __init__(self):
        self.value = None
        self.hasTimedOut = False
        self.timeout_ms = None

    @property
    def exists(self):
        return self.value is not None

    @property
    def get(self):
        assert self.value is not None
        return self.value

    @property
    def getOption(self):
        return self.value

    def update(self, value):
        self.value = tuple(value)

    def remove(self):
        self.value = None

    def setTimeoutDuration(self, ms):
        self.timeout_ms = ms


class FakeStream:
    def groupBy(self, *cols):
        self.keys = cols
        return self

    def applyInPandasWithState(self, func, **kwargs):
        self.func, self.kwargs = func, kwargs
        return self


def _trigger(stream, state, *pdfs, key=("sA",)):
    frames = list(stream.func(key, iter(pdfs), state))
    return pd.concat(frames, ignore_index=True) if frames else None


def _tokens(*rows):
    return pd.DataFrame({"source": ["sA"] * len(rows),
                         "tokens": [np.asarray(r, dtype=np.int64) for r in rows]})


def test_timed_out_key_emits_final_frame_then_starts_fresh():
    stream = hll_distinct_by_key_stream(FakeStream(), idle_ttl_ms=2000)
    assert stream.kwargs["timeoutConf"] == GroupStateTimeout.ProcessingTimeTimeout
    state = FakeGroupState()
    first = _trigger(stream, state, _tokens(range(100), range(50, 150)))
    assert state.timeout_ms == 2000
    assert first["n_rows_seen"].tolist() == [2]

    state.hasTimedOut = True
    final = _trigger(stream, state)
    assert not state.exists
    pd.testing.assert_frame_equal(final, first)

    state.hasTimedOut = False
    fresh = _trigger(stream, state, _tokens(range(30)))
    assert fresh["n_rows_seen"].tolist() == [1]
    want = HyperLogLog.empty(12)
    want.update_values(np.arange(30))
    assert bytes(state.get[0]) == want.to_bytes()


def test_timeout_is_armed_only_with_idle_ttl():
    for make in (hll_distinct_by_key_stream, f2_by_key_stream):
        stream = make(FakeStream())
        assert stream.kwargs["timeoutConf"] == GroupStateTimeout.NoTimeout
        state = FakeGroupState()
        _trigger(stream, state, _tokens([1, 2, 3]))
        assert state.exists and state.timeout_ms is None
    mg = heavy_hitters_by_key_stream(FakeStream())
    assert mg.kwargs["timeoutConf"] == GroupStateTimeout.NoTimeout
    state = FakeGroupState()
    _trigger(mg, state, _tokens([1, 1, 2]))
    assert state.exists and state.timeout_ms is None


def test_priority_sample_eviction_emits_nothing():
    stream = priority_sample_by_key_stream(
        FakeStream(), k=2, weight_col="w", idle_ttl_ms=500)
    state = FakeGroupState()
    pdf = pd.DataFrame({"source": ["g"] * 4, "doc_id": [1, 2, 3, 4],
                        "w": [5, 1, 7, 2]})
    sample = _trigger(stream, state, pdf, key=("g",))
    assert sample["rank"].tolist() == [1, 2]
    assert len(state.get[0]) == 3  # top-(k+1) rows
    state.hasTimedOut = True
    assert _trigger(stream, state, key=("g",)) is None
    assert not state.exists


def test_sketch_state_after_two_folds_equals_one_update():
    """HLL registers keep a max and Count-Sketch counters add, so folding
    two triggers equals one update over all values. Misra–Gries is exact
    while a key holds fewer than m − 1 distinct items (no decrement), the
    range these values stay in; past it the summary depends on how the
    stream is cut, within the same n/m error bound."""
    rng = np.random.default_rng(0)
    rows = [rng.integers(0, 40, n) for n in (50, 0, 80, 30)]
    values = np.concatenate(rows)
    cases = [
        (hll_distinct_by_key_stream(FakeStream()), HyperLogLog.empty(12)),
        (f2_by_key_stream(FakeStream()), CountSketch.empty(0.02, 1e-2)),
        (heavy_hitters_by_key_stream(FakeStream()), MisraGries(64)),
    ]
    for stream, want in cases:
        state = FakeGroupState()
        _trigger(stream, state, _tokens(*rows[:2]))
        _trigger(stream, state, _tokens(*rows[2:3]), _tokens(*rows[3:]))
        want.update_values(values)
        blob, n_rows = state.get
        assert n_rows == len(rows)
        assert bytes(blob) == want.to_bytes()
