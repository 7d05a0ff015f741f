"""Time-series window operators: rolling time-range aggregates, EWMA
smoothing, SCD2 interval construction — pandas/python replay parity."""

import datetime as dt

import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.operators.timeseries import (
    ewma,
    rolling_stats,
    scd2_intervals,
)

T0 = dt.datetime(2024, 1, 1)


def _ev(spark, rows):
    return spark.createDataFrame(
        [(i, u, T0 + dt.timedelta(seconds=s), float(v))
         for i, (u, s, v) in enumerate(rows)],
        ["event_id", "user_id", "ts", "value"],
    )


def test_rolling_stats_time_window(spark):
    # user 1: events at t=0, 10, 100s; 30s window
    df = _ev(spark, [(1, 0, 5.0), (1, 10, 7.0), (1, 100, 1.0),
                     (2, 5, 9.0)])
    out = {r["event_id"]: r
           for r in rolling_stats(df, window_s=30).collect()}
    assert out[0]["roll_n"] == 1 and out[0]["roll_sum"] == 5.0
    assert out[1]["roll_n"] == 2 and out[1]["roll_sum"] == 12.0
    assert out[1]["roll_min"] == 5.0 and out[1]["roll_max"] == 7.0
    # t=100 is > 30s after both -> window holds only itself
    assert out[2]["roll_n"] == 1 and out[2]["roll_sum"] == 1.0
    assert out[3]["roll_n"] == 1  # other user isolated


def test_rolling_window_boundary_inclusive(spark):
    df = _ev(spark, [(1, 0, 1.0), (1, 30, 2.0), (1, 31, 4.0)])
    out = {r["event_id"]: r["roll_n"]
           for r in rolling_stats(df, window_s=30).collect()}
    assert out[1] == 2  # exactly window_s apart -> included
    assert out[2] == 2  # t=31 sees t=30 and itself, not t=0


def test_ewma_matches_recurrence(spark):
    # with horizon >= series length the truncated form IS the
    # normalized recurrence (an EWMA of the observed prefix)
    vals = [3.0, 1.0, 4.0, 1.0, 5.0, 9.0, 2.0, 6.0]
    df = _ev(spark, [(1, 10 * i, v) for i, v in enumerate(vals)])
    out = [r["ewma"] for r in
           ewma(df, alpha=0.3, horizon=40).orderBy("ts").collect()]
    a = 0.3
    for t in range(len(vals)):
        num = sum(a * (1 - a) ** j * vals[t - j] for j in range(t + 1))
        den = sum(a * (1 - a) ** j for j in range(t + 1))
        assert out[t] == pytest.approx(num / den, rel=1e-12)
    assert out[0] == pytest.approx(vals[0])  # head is exact


def test_ewma_horizon_truncates(spark):
    df = _ev(spark, [(1, i, float(i)) for i in range(10)])
    short = {r["event_id"]: r["ewma"]
             for r in ewma(df, alpha=0.5, horizon=3).collect()}
    # at t=9 only lags 0..2 contribute: (9 + .5*8 + .25*7)/(1+.5+.25)
    assert short[9] == pytest.approx((9 + 4 + 1.75) / 1.75)


def test_ewma_validation(spark):
    df = _ev(spark, [(1, 0, 1.0)])
    with pytest.raises(ValueError):
        ewma(df, alpha=0.0)
    with pytest.raises(ValueError):
        ewma(df, alpha=0.5, horizon=0)


def test_scd2_intervals_collapse_and_current(spark):
    rows = [
        ("u1", 0, "A"), ("u1", 10, "A"), ("u1", 20, "B"),
        ("u1", 30, "A"), ("u2", 5, "X"),
    ]
    df = spark.createDataFrame(
        [(u, T0 + dt.timedelta(seconds=s), v) for u, s, v in rows],
        ["user_id", "ts", "state"],
    )
    out = scd2_intervals(df, value_col="state").orderBy(
        "user_id", "valid_from").collect()
    u1 = [r for r in out if r["user_id"] == "u1"]
    # consecutive equal A's collapse into one interval
    assert [r["value"] for r in u1] == ["A", "B", "A"]
    assert u1[0]["valid_from"] == T0
    assert u1[0]["valid_to"] == T0 + dt.timedelta(seconds=20)
    assert u1[1]["valid_to"] == T0 + dt.timedelta(seconds=30)
    assert u1[2]["valid_to"] is None and u1[2]["is_current"]
    assert not u1[0]["is_current"] and not u1[1]["is_current"]
    u2 = [r for r in out if r["user_id"] == "u2"]
    assert len(u2) == 1 and u2[0]["is_current"]


def test_scd2_apply_matches_full_rebuild(spark):
    """The maintenance invariant: apply(intervals(log1), log2) ==
    intervals(log1 + log2) when every key's log2 events come strictly
    after its open interval start."""
    import random

    from bloomine_spark.operators.timeseries import (
        scd2_apply_changes,
        scd2_intervals,
    )

    rng = random.Random(11)
    rows = []
    for u in range(6):
        t = 0
        for _ in range(rng.randint(1, 12)):
            t += rng.randint(1, 5)
            rows.append({"user_id": f"u{u}", "ts": t,
                         "value": rng.choice(["a", "b", "c"])})
    pivot = 15
    df = spark.createDataFrame(pd.DataFrame(rows))
    old = df.filter(F.col("ts") < pivot)
    new = df.filter(F.col("ts") >= pivot)
    want = {tuple(r) for r in scd2_intervals(old.unionByName(df.filter(
        F.col("ts") >= pivot))).collect()}
    got = {tuple(r) for r in scd2_apply_changes(
        scd2_intervals(old), new).collect()}
    assert got == want


def test_scd2_apply_untouched_new_key_extend(spark):
    from bloomine_spark.operators.timeseries import (
        scd2_apply_changes,
        scd2_intervals,
    )

    old = spark.createDataFrame(pd.DataFrame([
        {"user_id": "keep", "ts": 1, "value": "x"},
        {"user_id": "keep", "ts": 5, "value": "y"},
        {"user_id": "ext", "ts": 2, "value": "a"},
    ]))
    cur = scd2_intervals(old)
    new = spark.createDataFrame(pd.DataFrame([
        # same value -> the open interval EXTENDS (no new row)
        {"user_id": "ext", "ts": 9, "value": "a"},
        # then changes -> closes at 12
        {"user_id": "ext", "ts": 12, "value": "b"},
        # brand-new key
        {"user_id": "fresh", "ts": 10, "value": "z"},
    ]))
    out = scd2_apply_changes(cur, new)
    rows = {(r["user_id"], r["value"], r["valid_from"], r["valid_to"],
             r["is_current"]) for r in out.collect()}
    assert ("keep", "x", 1, 5, False) in rows      # untouched history
    assert ("keep", "y", 5, None, True) in rows    # untouched current
    assert ("ext", "a", 2, 12, False) in rows      # extended then closed
    assert ("ext", "b", 12, None, True) in rows
    assert ("fresh", "z", 10, None, True) in rows
    assert len(rows) == 5


def test_scd2_apply_validates_late_events(spark):
    from bloomine_spark.operators.timeseries import (
        scd2_apply_changes,
        scd2_intervals,
    )

    cur = scd2_intervals(spark.createDataFrame(pd.DataFrame([
        {"user_id": "u", "ts": 10, "value": "x"},
    ])))
    late = spark.createDataFrame(pd.DataFrame([
        {"user_id": "u", "ts": 10, "value": "y"},  # AT valid_from: conflict
    ]))
    with pytest.raises(ValueError, match="history rebuild"):
        scd2_apply_changes(cur, late)
