"""Cascade / combined-flank-score / MOI / polyfamily conformance tests."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.operators.cascade import (
    bin_reads_by_probe,
    cascade,
    choose_best_probes,
    combined_flank_scores,
    extract_targets,
    length_variant_counts,
    max_sum_reads,
    variant_counts,
)
from bloomine_spark.params import ScreenParams

P = ScreenParams()

HEAD = [11, 22, 33, 44, 55, 66, 77, 88, 99, 110, 121, 132]          # 12 tokens
TAIL = [201, 202, 203, 204, 205, 206, 207, 208, 209, 210, 211, 212]  # 12 tokens


def _mk_read(mid, pad_left=5, pad_right=6, reverse=False):
    rng = np.random.default_rng(hash(tuple(mid)) % 2**32)
    left = rng.integers(300, 400, pad_left).tolist()
    right = rng.integers(400, 500, pad_right).tolist()
    read = left + HEAD + list(mid) + TAIL + right
    if reverse:
        read = read[::-1]
    return read


@pytest.fixture(scope="module")
def hits_df(spark):
    rows = []
    variants = [
        [1, 2, 3],          # x3
        [1, 2, 3],
        [1, 2, 3],
        [4, 5, 6, 7],       # x2 (one reversed read)
        [4, 5, 6, 7],
        [8, 9],             # x1
    ]
    for i, v in enumerate(variants):
        rows.append(
            {
                "doc_id": f"r{i}",
                "tokens": np.array(
                    _mk_read(v, reverse=(i == 4)), dtype=np.int32
                ),
                "source": "s0",
            }
        )
    # a read with only the head flank → skipped by MOI
    rows.append(
        {
            "doc_id": "r_headonly",
            "tokens": np.array([0] * 4 + HEAD + [5, 5, 5, 5], dtype=np.int32),
            "source": "s0",
        }
    )
    pdf = pd.DataFrame(rows)
    pdf["n_tok"] = pdf["tokens"].apply(len).astype("int32")
    return spark.createDataFrame(pdf[["doc_id", "tokens", "n_tok", "source"]])


def test_extract_targets_matches_reference_semantics(spark, hits_df):
    got = extract_targets(hits_df, HEAD, TAIL, min_kmer=11).toPandas()
    got = {r["doc_id"]: list(r["extracted"]) for _, r in got.iterrows()}
    assert got["r0"] == [1, 2, 3]
    assert got["r3"] == [4, 5, 6, 7]
    # reversed read: anchors found on "-" strand, region normalized back
    assert got["r4"] == [4, 5, 6, 7]
    assert got["r5"] == [8, 9]
    assert "r_headonly" not in got


def test_variant_and_length_counts(spark, hits_df):
    ex = extract_targets(hits_df, HEAD, TAIL, min_kmer=11)
    vc = {tuple(r["extracted"]): r["count"] for r in variant_counts(ex).collect()}
    assert vc[(1, 2, 3)] == 3
    assert vc[(4, 5, 6, 7)] == 2
    assert vc[(8, 9)] == 1
    lc = {r["variant_len"]: r["count"] for r in length_variant_counts(ex).collect()}
    assert lc == {3: 3, 4: 2, 2: 1}


def test_cascade_hits_require_both_flanks(spark, hits_df):
    # reads with both flanks pass; the head-only read must not
    hits, s1, s2 = cascade(hits_df, HEAD, TAIL, P)
    ids = {r["doc_id"] for r in hits.select("doc_id").collect()}
    assert "r_headonly" not in ids
    assert {"r0", "r1", "r2", "r3", "r4", "r5"} <= ids
    # the head-only read DOES appear in flank-1 scores
    s1_ids = {r["doc_id"] for r in s1.select("doc_id").collect()}
    assert "r_headonly" in s1_ids


def test_combined_flank_scores_pass_logic(spark, hits_df):
    _, s1, s2 = cascade(hits_df, HEAD, TAIL, P)
    thr = P.mst(len(set(map(tuple, np.lib.stride_tricks.sliding_window_view(
        np.array(HEAD), P.k)))))
    combined = combined_flank_scores(s1, s2, thr, thr).toPandas()
    combined = combined.set_index("doc_id")
    # head-only read: f2 columns null → pass 0
    ho = combined.loc["r_headonly"]
    assert pd.isna(ho["f2_score"]) and pd.isna(ho["f2_rc_score"])
    assert ho["pass"] == 0
    # full reads: pass 1; reversed read r4 scored via RC columns
    assert combined.loc["r0", "pass"] == 1
    r4 = combined.loc["r4"]
    assert r4["pass"] == 1 and not pd.isna(r4["f1_rc_score"])


def test_choose_best_probes_tiebreak(spark):
    pdf = pd.DataFrame(
        {
            "doc_id": ["d1", "d1", "d1", "d2", "d2"],
            "target_id": ["pB", "pA", "pC", "pZ", "pY"],
            "total_score": [100, 100, 90, 50, 60],
        }
    )
    df = spark.createDataFrame(pdf)
    best = {r["doc_id"]: r["target_id"] for r in choose_best_probes(df).collect()}
    # tie at 100 → lexicographically smaller probe wins (polyfamily.py:159)
    assert best == {"d1": "pA", "d2": "pY"}
    bins = {r["target_id"]: r["n_docs"] for r in bin_reads_by_probe(df).collect()}
    assert bins == {"pA": 1, "pY": 1}
    # every probe here has a single row, so each row is its probe's max
    ms = max_sum_reads(df).toPandas()
    assert len(ms) == 5
    # with two rows on one probe, only the max survives
    df2 = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": ["d1", "d2"],
                "target_id": ["pA", "pA"],
                "total_score": [10, 30],
            }
        )
    )
    ms2 = max_sum_reads(df2).toPandas()
    assert list(zip(ms2["doc_id"], ms2["target_id"])) == [("d2", "pA")]


def test_extract_targets_multi_matches_per_probe(spark):
    """One-pass multi-probe extraction == per-probe extract_targets on the
    same rows, including colliding doc_ids across samples and reversed
    reads; unknown target_ids are dropped."""
    from bloomine_spark.operators.cascade import extract_targets_multi

    HEAD_B = [501, 502, 503, 504, 505, 506, 507, 508, 509, 510, 511, 512]
    probes = {"pA": (HEAD, TAIL), "pB": (HEAD_B, TAIL)}
    rows = []
    for src, variants in (("s0", [[1, 2, 3], [1, 2, 3], [4, 5, 6]]),
                          ("s1", [[7, 8], [9, 10, 11]])):
        for i, v in enumerate(variants):
            rows.append({"doc_id": f"a{i}", "source": src, "target_id": "pA",
                         "tokens": np.array(_mk_read(v, reverse=(i == 1)),
                                            np.int32)})
    for src, n in (("s0", 2), ("s1", 1)):
        for i in range(n):
            read = [300] + HEAD_B + [12, 13] + TAIL + [400, 401]
            rows.append({"doc_id": f"b{i}", "source": src, "target_id": "pB",
                         "tokens": np.array(read, np.int32)})
    rows.append({"doc_id": "x0", "source": "s0", "target_id": "unknown",
                 "tokens": np.array(_mk_read([1]), np.int32)})
    pdf = pd.DataFrame(rows)
    df = spark.createDataFrame(pdf[["source", "doc_id", "target_id", "tokens"]])

    multi = extract_targets_multi(df, probes, min_kmer=11).toPandas()
    assert set(multi["target_id"]) == {"pA", "pB"}

    got = {}
    for tid, (h, t) in probes.items():
        for src in ("s0", "s1"):
            # per-probe extract has no source column, so scope the trusted
            # baseline per (probe, sample) to disambiguate colliding ids
            sub = df.filter((F.col("target_id") == tid)
                            & (F.col("source") == src))
            ex = extract_targets(sub, h, t, min_kmer=11).toPandas()
            for _, r in ex.iterrows():
                got[(src, r["doc_id"], tid)] = (
                    list(r["extracted"]), r["head_pos"], r["tail_pos"],
                    r["orientation"])
    want = {
        (r["source"], r["doc_id"], r["target_id"]):
        (list(r["extracted"]), r["head_pos"], r["tail_pos"], r["orientation"])
        for _, r in multi.iterrows()
    }
    assert want == got and len(want) == 8


def test_extract_targets_multi_skips_null_probe_id(spark):
    """A null target_id next to string ids belongs to no probe: its row is
    skipped like an unknown id, and the other rows extract as without it."""
    from pyspark.sql import types as T

    from bloomine_spark.operators.cascade import extract_targets_multi

    schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("target_id", T.StringType()),
        T.StructField("tokens", T.ArrayType(T.IntegerType())),
    ])
    rows = [(f"a{i}", "pA", _mk_read([1, 2, i])) for i in range(3)]
    rows.append(("z", "zz", _mk_read([4])))
    null_row = ("n0", None, _mk_read([5, 6]))
    probes = {"pA": (HEAD, TAIL), "zz": (HEAD, TAIL)}

    def run(rs):
        df = spark.createDataFrame(rs, schema).coalesce(1)
        out = extract_targets_multi(df, probes, min_kmer=11).toPandas()
        return sorted(
            (r.doc_id, r.target_id, list(r.extracted))
            for r in out.itertuples()
        )

    got = run(rows[:2] + [null_row] + rows[2:])
    assert got == run(rows)
    assert [d for d, _, _ in got] == ["a0", "a1", "a2", "z"]
