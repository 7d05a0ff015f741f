"""Distributed sketch aggregation: partials → merge must equal a
single-machine sketch over the same data (grouping invariance through the
real Spark shuffle), and estimates must track exact answers."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.datagen import generate_rows
from bloomine_spark.sketch.cms import CountMinSketch
from bloomine_spark.sketch.core import (
    STATE_COL,
    estimates_df,
    sketch_agg,
    sketch_agg_global,
)
from bloomine_spark.sketch.hll import HyperLogLog
from bloomine_spark.sketch.kll import KLL
from bloomine_spark.sketch.tdigest import TDigest


@pytest.fixture(scope="module")
def seq_df(spark):
    pdf = generate_rows(np.arange(2000), seed=42)
    return spark.createDataFrame(pdf).repartition(16).cache()


@pytest.fixture(scope="module")
def seq_pdf():
    return generate_rows(np.arange(2000), seed=42)


def _local_fold(pdf, group_cols, value_col, factory):
    """{key tuple: sketch} from one update_values per group, values in row
    order — what the partial fold computes on a one-partition, one-batch
    input."""
    out = {}
    for key, sub in pdf.groupby(group_cols, sort=False, dropna=False):
        key = key if isinstance(key, tuple) else (key,)
        sk = out[key] = factory()
        sk.update_values(np.concatenate(sub[value_col].to_list()))
    return out


@pytest.mark.parametrize(
    "group_cols", [["source"], ["source", "bucket"]], ids=["source", "source-bucket"]
)
def test_hll_distinct_tokens_per_source(spark, seq_df, seq_pdf, group_cols):
    """Per-key HLL estimates track the exact distinct counts, HLL registers
    equal a local per-key fold after the 16-partition merge, and KLL state
    bytes (order-sensitive) equal a local per-key fold on one partition —
    so each group's values keep their row order."""
    seq_df = seq_df.withColumn("bucket", F.col("n_tok") % 3)
    seq_pdf = seq_pdf.assign(bucket=seq_pdf["n_tok"] % 3)
    factory = lambda: HyperLogLog.empty(12)  # noqa: E731
    states = sketch_agg(seq_df, group_cols, "tokens", factory)
    got = estimates_df(states, factory, lambda h: h.estimate(), "est").toPandas()
    local = _local_fold(seq_pdf, group_cols, "tokens", factory)
    assert len(got) == len(local)

    for _, row in got.iterrows():
        key = tuple(row[c] for c in group_cols)
        sub = seq_pdf[(seq_pdf[group_cols] == key).all(axis=1)]
        exact = len(np.unique(np.concatenate(sub["tokens"].to_list())))
        rel = abs(row["est"] - exact) / exact
        assert rel < 3 * 1.04 / 64, (key, exact, row["est"])
        merged = HyperLogLog.from_bytes(row[STATE_COL])
        assert (merged.registers == local[key].registers).all(), key

    kll = lambda: KLL(k=200)  # noqa: E731
    one = spark.createDataFrame(seq_pdf).coalesce(1)
    local = _local_fold(seq_pdf, group_cols, "tokens", kll)
    got = {
        tuple(r[c] for c in group_cols): bytes(r[STATE_COL])
        for r in sketch_agg(one, group_cols, "tokens", kll).collect()
    }
    assert got == {k: sk.to_bytes() for k, sk in local.items()}


def test_hll_spark_state_equals_local_state(spark, seq_df, seq_pdf):
    """The distributed merge must produce the EXACT register state of a
    local single-pass sketch — state-level grouping invariance through a
    real shuffle."""
    factory = lambda: HyperLogLog.empty(12)  # noqa: E731
    merged = sketch_agg_global(seq_df, "tokens", factory, fanin=4)
    local = factory()
    local.update_values(np.concatenate(seq_pdf["tokens"].to_list()))
    assert (merged.registers == local.registers).all()


def test_cms_spark_counts_equal_local(spark, seq_df, seq_pdf):
    factory = lambda: CountMinSketch.empty(1e-3, 1e-2)  # noqa: E731
    merged = sketch_agg_global(seq_df, "tokens", factory)
    local = factory()
    all_tokens = np.concatenate(seq_pdf["tokens"].to_list())
    local.update_values(all_tokens)
    assert (merged.counts == local.counts).all()
    assert merged.n == len(all_tokens)
    # estimates ≥ exact for a few tokens
    uniq, true_counts = np.unique(all_tokens[:10_000], return_counts=True)
    est = merged.estimate_values(uniq)
    full_counts = np.array(
        [(all_tokens == u).sum() for u in uniq[:20]]
    )
    assert (est[:20] >= full_counts).all()


def test_kll_ntok_quantiles(spark, seq_df, seq_pdf):
    factory = lambda: KLL(k=200)  # noqa: E731
    merged = sketch_agg_global(seq_df, "n_tok", factory)
    exact = np.sort(seq_pdf["n_tok"].to_numpy())
    n = len(exact)
    assert merged.n == n
    for q in (0.1, 0.5, 0.9):
        est = merged.quantile(q)
        true_rank = np.searchsorted(exact, est) / n
        assert abs(true_rank - q) < 0.05


def test_tdigest_grouped_quantiles(spark, seq_df, seq_pdf):
    factory = lambda: TDigest(100.0)  # noqa: E731
    got = sketch_agg(seq_df, ["source"], "n_tok", factory)
    got = estimates_df(got, factory, lambda t: t.quantile(0.5), "p50").toPandas()
    for _, row in got.iterrows():
        sub = seq_pdf[seq_pdf["source"] == row["source"]]["n_tok"].to_numpy()
        exact_rank = np.searchsorted(np.sort(sub), row["p50"]) / len(sub)
        assert abs(exact_rank - 0.5) < 0.08, (row["source"], exact_rank)


def test_partials_row_count_bounded(spark, seq_df):
    """The shuffle payload is one state per (partition × group), not per row."""
    from bloomine_spark.sketch.core import sketch_partials

    factory = lambda: HyperLogLog.empty(8)  # noqa: E731
    partials = sketch_partials(seq_df, ["source"], "tokens", factory)
    n = partials.count()
    n_parts = seq_df.rdd.getNumPartitions()
    n_groups = seq_df.select("source").distinct().count()
    assert n <= n_parts * n_groups


def test_hll_matches_native_datasketches(spark, seq_df, seq_pdf):
    """Independent cross-check: the numpy HLL estimate must agree with
    Spark's built-in Apache DataSketches HLL (F.hll_sketch_agg, pure JVM)
    on the same data — two unrelated implementations, each within the
    1.04/sqrt(m) relative-error bound of the exact distinct count, at the
    same lgConfigK."""
    from pyspark.sql import functions as F

    factory = lambda: HyperLogLog.empty(12)  # noqa: E731
    ours = sketch_agg_global(seq_df, "tokens", factory).estimate()
    native = (
        seq_df.select(F.explode("tokens").alias("t"))
        .agg(F.hll_sketch_estimate(
            F.hll_sketch_agg(F.col("t"), 12)).alias("est"))
        .head()["est"]
    )
    exact = len(np.unique(np.concatenate(seq_pdf["tokens"].to_list())))
    bound = 3 * 1.04 / 64  # 3 sigma at m = 2^12
    assert abs(ours - exact) / exact < bound, (ours, exact)
    assert abs(native - exact) / exact < bound, (native, exact)
    assert abs(ours - native) / exact < 2 * bound


def test_quantile_sketches_match_native_percentile_approx(spark, seq_df, seq_pdf):
    """Independent cross-check for the quantile family: KLL and t-digest
    quantiles vs Spark's built-in percentile_approx (JVM Greenwald-Khanna)
    and the exact answer, all on n_tok. Exact is the strong oracle; the
    native sketch pins that our error envelope is in the same class as
    the engine Spark ships."""
    import numpy as np
    from pyspark.sql import functions as F

    vals = np.sort(seq_pdf["n_tok"].to_numpy())
    qs = [0.1, 0.25, 0.5, 0.75, 0.9]

    kll = sketch_agg_global(seq_df, "n_tok", lambda: KLL(k=200))
    td = sketch_agg_global(seq_df, "n_tok", lambda: TDigest(compression=100))
    native = (
        seq_df.agg(
            F.percentile_approx("n_tok", qs, 10_000).alias("p")
        ).head()["p"]
    )

    def rank_of(v):
        return np.searchsorted(vals, v, side="right") / len(vals)

    for q, nat in zip(qs, native):
        for impl, got in (("kll", kll.quantile(q)),
                          ("tdigest", td.quantile(q)),
                          ("native", nat)):
            # all three estimators must sit within 2% rank error of exact
            assert abs(rank_of(got) - q) < 0.02, (impl, q, got, rank_of(got))


def test_cms_matches_native_count_min_sketch(spark, seq_df, seq_pdf):
    """Independent cross-check for the frequency family: our CMS point
    estimates vs Spark's built-in count_min_sketch aggregate (the JVM
    org.apache.spark.util.sketch implementation, deserialized through the
    gateway) and the exact counts — both must respect the one-sided CMS
    guarantee (est >= true) within their configured epsilon*N envelope on
    the same tokens."""
    import io

    import numpy as np
    from pyspark.sql import functions as F

    from bloomine_spark.sketch.cms import CountMinSketch

    eps, delta = 1e-3, 1e-2
    ours = sketch_agg_global(
        seq_df, "tokens", lambda: CountMinSketch.empty(eps, delta)
    )
    blob = bytes(
        seq_df.select(F.explode("tokens").alias("t"))
        .agg(F.count_min_sketch(
            # Spark's 3rd arg is CONFIDENCE (1-delta), not delta
            F.col("t"), F.lit(eps), F.lit(1.0 - delta), F.lit(42)).alias("s"))
        .head()["s"]
    )
    jvm = spark.sparkContext._jvm
    bis = jvm.java.io.ByteArrayInputStream(blob)
    native = jvm.org.apache.spark.util.sketch.CountMinSketch.readFrom(bis)

    flat = np.concatenate(seq_pdf["tokens"].to_list())
    n = len(flat)
    items, true = np.unique(flat, return_counts=True)
    # the 40 most frequent tokens: both sketches' point estimates obey
    # est >= true and est - true <= eps*N (w/ slack for delta failures)
    top = np.argsort(-true)[:40]
    for i in top:
        item, t = int(items[i]), int(true[i])
        o = ours.estimate(item)
        nv = native.estimateCount(int(item))
        assert o >= t and nv >= t, (item, o, nv, t)
        assert o - t <= 2 * eps * n, (item, o, t)
        assert nv - t <= 2 * eps * n, (item, nv, t)


def test_bloom_matches_native_bloom_filter(spark, seq_df, seq_pdf):
    """Independent cross-check for the Bloom family: our Bloom filter vs
    Spark's built-in DataFrameStatFunctions.bloomFilter (JVM
    org.apache.spark.util.sketch.BloomFilter) on the same tokens — both
    must have NO false negatives and an observed FPP within the
    configured envelope on a disjoint probe set."""
    import numpy as np
    from pyspark.sql import functions as F

    from bloomine_spark.functions.hashing import hash_u64
    from bloomine_spark.sketch.bloom import BloomFilter

    flat = np.unique(np.concatenate(seq_pdf["tokens"].to_list()))
    n_distinct = len(flat)
    fpp = 0.01

    ours = BloomFilter.sized(n_distinct, fpp)
    ours.update_hashes(hash_u64(flat))
    tok = seq_df.select(F.explode("tokens").alias("t"))
    # PySpark 4 exposes no Python wrapper — call the JVM Dataset's
    # stat().bloomFilter directly (same engine path)
    native = tok._jdf.stat().bloomFilter("t", n_distinct, fpp)

    # no false negatives, either implementation
    assert all(bool(b) for b in ours.contains_hashes(hash_u64(flat)))
    for v in flat[:200]:
        assert native.mightContain(int(v))

    # false-positive rate on values NEVER inserted
    probes = np.arange(10_000_000, 10_050_000, dtype=np.int64)
    probes = probes[~np.isin(probes, flat)]
    ours_fp = float(np.mean(ours.contains_hashes(hash_u64(probes))))
    native_fp = sum(
        native.mightContain(int(v)) for v in probes[:5000]
    ) / 5000
    assert ours_fp <= 3 * fpp, ours_fp
    assert native_fp <= 3 * fpp, native_fp


def test_kll_grouped_quantiles(spark, seq_df, seq_pdf):
    """Per-source KLL p25/p50/p75 (the `kll_ntok_quantiles` driver shape,
    row-aligned with its exact companion) within KLL rank-error bounds."""
    factory = lambda: KLL(k=200)  # noqa: E731
    got = sketch_agg(seq_df, ["source"], "n_tok", factory)
    for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
        got = estimates_df(
            got, factory, lambda s, q=q: s.quantiles([q])[0], name
        )
    for _, row in got.toPandas().iterrows():
        sub = np.sort(
            seq_pdf[seq_pdf["source"] == row["source"]]["n_tok"].to_numpy()
        )
        for name, q in (("p25", 0.25), ("p50", 0.5), ("p75", 0.75)):
            exact_rank = np.searchsorted(sub, row[name]) / len(sub)
            assert abs(exact_rank - q) < 0.08, (row["source"], name)


@pytest.mark.parametrize(
    "value_col,factory",
    [
        ("arr_l", lambda: KLL(k=8)),
        ("arr_l", lambda: TDigest(20.0)),
        ("arr_d", lambda: KLL(k=8)),
        ("arr_d", lambda: TDigest(20.0)),
    ],
    ids=["bigint-kll", "bigint-tdigest", "double-kll", "double-tdigest"],
)
def test_grouped_fold_passes_native_values(spark, value_col, factory):
    """A grouped fold over array<bigint> with negative values and over
    array<double> must see the native values (a uint64 widening turns -1
    into 1.8e19 and truncates 0.5 to 0): each group's state equals a local
    update_values on that group's values in row order."""
    rng = np.random.default_rng(5)
    lens = rng.integers(0, 12, 300)
    pdf = pd.DataFrame({
        "g": rng.integers(0, 4, 300),
        "arr_l": [rng.integers(-1000, 1000, n) for n in lens],
        "arr_d": [rng.normal(0.0, 10.0, n) for n in lens],
    })
    df = spark.createDataFrame(
        pdf, "g bigint, arr_l array<bigint>, arr_d array<double>"
    ).coalesce(1)
    got = {
        r["g"]: bytes(r[STATE_COL])
        for r in sketch_agg(df, ["g"], value_col, factory).collect()
    }
    local = _local_fold(pdf, ["g"], value_col, factory)
    assert got == {k: sk.to_bytes() for (k,), sk in local.items()}


@pytest.mark.parametrize(
    "group_cols", [["k1"], ["k1", "k2"]], ids=["one-key", "two-keys"]
)
def test_null_group_key_is_its_own_group(spark, group_cols):
    """Rows whose key is null form their own group (as in Spark's groupBy)
    through the partial fold and merge_grouped — not an error, not
    dropped."""
    rng = np.random.default_rng(9)
    rows = [
        (
            ["a", "b", None][int(rng.integers(0, 3))],
            [1, 2, None][int(rng.integers(0, 3))],
            rng.integers(0, 5000, int(rng.integers(1, 40))).tolist(),
        )
        for _ in range(400)
    ]
    df = spark.createDataFrame(
        rows, "k1 string, k2 bigint, tokens array<int>"
    ).repartition(4)
    factory = lambda: HyperLogLog.empty(10)  # noqa: E731
    got = {
        tuple(r[c] for c in group_cols): HyperLogLog.from_bytes(r[STATE_COL])
        for r in sketch_agg(df, group_cols, "tokens", factory).collect()
    }
    want: dict = {}
    for k1, k2, toks in rows:
        key = (k1, k2)[: len(group_cols)]
        want.setdefault(key, factory()).update_values(np.asarray(toks))
    assert set(got) == set(want)
    assert any(None in key for key in got)
    for key, sk in want.items():
        assert (got[key].registers == sk.registers).all(), key


def test_value_column_that_is_also_a_group_column(spark, seq_df, seq_pdf):
    """Grouping by n_tok and folding n_tok: the fold reads the column once,
    and each group's KLL holds exactly its rows' n_tok values."""
    factory = lambda: KLL(k=8)  # noqa: E731
    got = {
        r["n_tok"]: KLL.from_bytes(r[STATE_COL])
        for r in sketch_agg(seq_df, ["n_tok"], "n_tok", factory).collect()
    }
    want = seq_pdf["n_tok"].value_counts()
    assert set(got) == set(want.index)
    for key, sk in got.items():
        assert sk.n == want[key]
        assert sk.quantile(0.5) == key
