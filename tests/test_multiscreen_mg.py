"""One-pass multi-target screening equivalence + Misra–Gries bounds."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.datagen import DEFAULT_TARGET, generate_rows
from bloomine_spark.operators.multiscreen import (
    polyfamily_onepass,
    screen_multi_scores,
)
from bloomine_spark.operators.screen import screen_scores
from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.mg import MisraGries

P = ScreenParams()

TARGET_B = [201, 202, 203, 204, 205, 206, 207, 208, 209, 210,
            211, 212, 213, 214, 215, 216, 217, 218, 219, 220,
            221, 222, 223, 224]


@pytest.fixture(scope="module")
def seq_df(spark):
    pdf = generate_rows(np.arange(800), seed=42)
    # plant TARGET_B occurrences in a slice of rows
    for i in range(40, 70):
        toks = pdf.at[i, "tokens"].copy()
        if len(toks) > len(TARGET_B) + 2:
            toks[2 : 2 + len(TARGET_B)] = TARGET_B
            pdf.at[i, "tokens"] = toks
    return spark.createDataFrame(pdf).cache()


def test_multi_screen_equals_single_screens(spark, seq_df):
    multi = screen_multi_scores(
        seq_df, {"tA": DEFAULT_TARGET, "tB": TARGET_B}, P
    ).toPandas()
    for tid, target in (("tA", DEFAULT_TARGET), ("tB", TARGET_B)):
        single = (
            screen_scores(seq_df, target, P)
            .toPandas()
            .sort_values("doc_id")
            .reset_index(drop=True)
        )
        got = (
            multi[multi["target_id"] == tid]
            .drop(columns=["target_id"])
            .sort_values("doc_id")
            .reset_index(drop=True)[single.columns]
        )
        pd.testing.assert_frame_equal(got, single, check_dtype=False)
    assert (multi["target_id"] == "tB").sum() >= 30


def test_screen_scores_keeps_input_target_id_column(spark, seq_df):
    """screen_scores drops only its own target-id column, never an input
    column of the same name."""
    plain = screen_scores(seq_df, DEFAULT_TARGET, P)
    tagged = screen_scores(
        seq_df.withColumn("target_id", F.lit("probe-7")), DEFAULT_TARGET, P
    )
    n = len(seq_df.columns) - 1  # passthrough columns of seq_df
    assert tagged.columns == (
        plain.columns[:n] + ["target_id"] + plain.columns[n:]
    )
    got = tagged.toPandas()
    assert set(got["target_id"]) == {"probe-7"}
    assert len(got) == plain.count() > 0


def test_polyfamily_onepass_equals_multipass(spark, seq_df):
    from bloomine_spark.operators.cascade import polyfamily_run

    probes = {
        "pA": (DEFAULT_TARGET[:12], DEFAULT_TARGET[12:]),
        "pB": (TARGET_B[:12], TARGET_B[12:]),
    }
    one = polyfamily_onepass(seq_df, probes, P).toPandas()
    multi = polyfamily_run(seq_df, probes, P).toPandas()
    key = lambda df: sorted(  # noqa: E731
        zip(df["doc_id"], df["target_id"], df["total_score"])
    )
    assert key(one) == key(multi)
    assert len(one) > 20


# ---------------------------------------------------------------- MG sketch
def test_mg_bounds_and_heavy_hitters():
    rng = np.random.default_rng(11)
    n = 300_000
    stream = rng.zipf(1.3, n) % 10_000
    m = 256
    sk = MisraGries(m)
    # feed in chunks (exercises repeated combine/truncate)
    for part in np.array_split(stream, 13):
        sk.update_values(part)
    assert sk.n == n
    uniq, true_counts = np.unique(stream, return_counts=True)
    est = sk.estimate_values(uniq)
    err = true_counts - est
    assert (est <= true_counts).all()          # never overestimates
    assert (err <= n / m).all(), err.max()     # MG bound
    # every item above n/m is present
    heavy = uniq[true_counts > n / m]
    assert all(sk.estimate(int(h)) > 0 for h in heavy)
    # top-1 is the true top-1 for a zipf stream
    assert sk.top_k(1)[0][0] == int(uniq[np.argmax(true_counts)])


def test_mg_merge_bound_across_groupings():
    rng = np.random.default_rng(12)
    n = 200_000
    stream = rng.zipf(1.2, n) % 5000
    uniq, true_counts = np.unique(stream, return_counts=True)
    m = 200
    for n_parts in (2, 7, 16):
        merged = MisraGries(m)
        for part in np.array_split(stream, n_parts):
            piece = MisraGries(m)
            piece.update_values(part)
            merged.merge(piece)
        assert merged.n == n
        est = merged.estimate_values(uniq)
        assert (est <= true_counts).all()
        assert (true_counts - est <= n / m).all(), n_parts


def test_mg_serde():
    sk = MisraGries(32)
    sk.update_values(np.array([1, 1, 1, 2, 2, 3]))
    sk2 = MisraGries.from_bytes(sk.to_bytes())
    assert sk2.estimate(1) == sk.estimate(1) and sk2.n == 6
    assert sk2.top_k(2)[0] == (1, 3)


def test_mg_spark_agg(spark, seq_df):
    from bloomine_spark.sketch.core import sketch_agg_global

    merged = sketch_agg_global(seq_df, "tokens", lambda: MisraGries(512))
    pdf = seq_df.toPandas()
    all_tokens = np.concatenate(pdf["tokens"].to_list())
    uniq, true_counts = np.unique(all_tokens, return_counts=True)
    est = merged.estimate_values(uniq.astype(np.int64))
    assert (est <= true_counts).all()
    assert (true_counts - est <= len(all_tokens) / 512).all()
    assert merged.n == len(all_tokens)
