"""The flank-pair plan of ``operators.cascade``: the combined flank log (J1,
``flank_pair_scores``) against an independent pandas pivot of each probe's
two single-flank screens, and the probe argmax (W1, ``best_flank_pairs``)
on two samples whose read ids collide."""

import numpy as np
import pandas as pd
import pytest

from bloomine_spark.datagen import DEFAULT_TARGET, generate_rows
from bloomine_spark.operators.cascade import (
    best_flank_pairs,
    flank_pair_scores,
)
from bloomine_spark.operators.multiscreen import screen_flank_pairs
from bloomine_spark.operators.screen import screen_scores
from bloomine_spark.params import ScreenParams

P = ScreenParams()
KEYS = ["source", "doc_id"]
TARGET_B = list(range(201, 225))
# pA's flanks have different thresholds; pC's flanks are pB's, so every pB
# read ties between the two, and W1 must keep the smaller probe id
PROBES = {
    "pA": (DEFAULT_TARGET[:10], DEFAULT_TARGET[10:]),
    "pC": (TARGET_B[:12], TARGET_B[12:]),
    "pB": (TARGET_B[:12], TARGET_B[12:]),
}
SCORE_COLS = ["f1_score", "f1_rc_score", "f2_score", "f2_rc_score"]


@pytest.fixture(scope="module")
def two_samples(spark):
    """Two samples with the same doc_ids; both carry the generator's
    DEFAULT_TARGET reads, and s1 has TARGET_B planted in its first rows
    (every third one reversed)."""
    s0 = generate_rows(np.arange(300), seed=42).assign(source="s0")
    s1 = generate_rows(np.arange(300), seed=7).assign(source="s1")
    s1["doc_id"] = s0["doc_id"].values
    for i in range(40):
        toks = s1.at[i, "tokens"].copy()
        planted = TARGET_B if i % 3 else TARGET_B[::-1]
        toks[3:3 + len(planted)] = planted
        s1.at[i, "tokens"] = toks
    # a flank-1-only read: its pair has a missing flank 2
    toks = s1.at[40, "tokens"].copy()
    toks[3:15] = TARGET_B[:12]
    s1.at[40, "tokens"] = toks
    return spark.createDataFrame(pd.concat([s0, s1], ignore_index=True)).cache()


@pytest.fixture(scope="module")
def pairs(two_samples):
    """(J1 DataFrame, its rows) over the one-pass screen of every probe."""
    scores, thresholds = screen_flank_pairs(two_samples, PROBES, P)
    j1 = flank_pair_scores(scores, thresholds)
    return j1, j1.toPandas()


def _mst(flank):
    grams = np.lib.stride_tricks.sliding_window_view(np.array(flank), P.k)
    return P.mst(len(set(map(tuple, grams))))


def _pandas_pair(log1, log2, thr1, thr2):
    """Full outer pivot of two single-flank score logs on (source, doc_id):
    best forward / RC score per flank, max threshold, and pass iff each
    flank's best clears its threshold (a missing flank fails)."""

    def pivot(log, n):
        fwd = log["score"].where(~log["rc"])
        rev = log["score"].where(log["rc"])
        return (
            log.assign(**{f"f{n}_score": fwd, f"f{n}_rc_score": rev})
            .groupby(KEYS)[[f"f{n}_score", f"f{n}_rc_score"]]
            .max()
        )

    j = pivot(log1, 1).join(pivot(log2, 2), how="outer").reset_index()
    best1 = j[["f1_score", "f1_rc_score"]].max(axis=1)
    best2 = j[["f2_score", "f2_rc_score"]].max(axis=1)
    j["threshold"] = max(thr1, thr2)
    j["pass"] = ((best1 >= thr1) & (best2 >= thr2)).astype(int)
    return j


def _sorted(df):
    return df.sort_values(KEYS).reset_index(drop=True)


def test_flank_pair_scores_match_pandas_pivot(spark, two_samples, pairs):
    _, pairs = pairs
    assert list(pairs.columns) == KEYS + [
        "probe_id", *SCORE_COLS, "threshold", "pass"]
    logs = {
        tuple(f): screen_scores(two_samples, f, P).toPandas()
        for f in {tuple(f) for pair in PROBES.values() for f in pair}
    }
    for probe, (f1, f2) in PROBES.items():
        want = _pandas_pair(
            logs[tuple(f1)], logs[tuple(f2)], _mst(f1), _mst(f2)
        )
        got = pairs[pairs["probe_id"] == probe].drop(columns="probe_id")
        pd.testing.assert_frame_equal(
            _sorted(got).astype({c: float for c in SCORE_COLS}),
            _sorted(want)[got.columns],
            check_dtype=False,
        )
    # both samples hold colliding doc_ids, some reads are found reversed
    # only, and one read misses flank 2 and fails
    assert pairs.duplicated(KEYS + ["probe_id"]).sum() == 0
    pb = pairs[pairs["probe_id"] == "pB"]
    assert pb["f1_rc_score"].notna().any() and pb["f1_score"].notna().any()
    assert (pb["f2_score"].isna() & pb["f2_rc_score"].isna()).any()
    assert set(pairs["source"]) == {"s0", "s1"}
    assert (pairs["pass"] == 1).sum() > 40
    assert set(pairs[pairs["probe_id"] == "pA"]["threshold"]) == {
        max(_mst(f) for f in PROBES["pA"])}


def test_best_flank_pairs_argmax_and_ties(spark, pairs):
    j1, p = pairs
    got = _sorted(best_flank_pairs(j1).toPandas())
    assert list(got.columns) == KEYS + ["target_id", "total_score"]
    # independent argmax over the passing pairs: largest total, ties to
    # the smaller probe id
    p = p[p["pass"] == 1]
    p = p.assign(
        total_score=p[["f1_score", "f1_rc_score"]].max(axis=1)
        + p[["f2_score", "f2_rc_score"]].max(axis=1),
        target_id=p["probe_id"],
    ).sort_values(KEYS + ["total_score", "target_id"],
                  ascending=[True, True, False, True])
    want = _sorted(p.drop_duplicates(KEYS)[got.columns])
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert not got.duplicated(KEYS).any()
    # pB and pC tie on every TARGET_B read: pB, the smaller id, wins
    assert set(got["target_id"]) == {"pA", "pB"}
    # the two samples' colliding read ids are assigned apart
    assert got.duplicated("doc_id").any()
    assert (got["target_id"] == "pB").sum() >= 30
