"""Dedup family + similarity search: planted-duplicate recall and exact
baselines."""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from bloomine_spark.operators.dedup import (
    embedding_near_dup_exact,
    embedding_near_dup_lsh,
    exact_duplicates,
    minhash_lsh_duplicates,
    ngram_jaccard_pairs,
    simhash_duplicates,
)
from bloomine_spark.operators.similarity import brute_force_topk, ivf_topk

SF = "/root/testdata/sf0.001"
needs_data = pytest.mark.skipif(not os.path.isdir(SF), reason="testdata absent")


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    """documents + planted exact copies and near-copies."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(200)
    exact_copies = docs.limit(10).select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    # near copies: one word appended
    near_copies = docs.filter((F.col("doc_id") >= 10) & (F.col("doc_id") < 20)).select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
        "lang", "source", "n_chars",
    )
    return docs.union(exact_copies).union(near_copies).cache()


@needs_data
def test_exact_duplicates(spark, docs_with_dups):
    got = exact_duplicates(docs_with_dups, F.col("text")).toPandas()
    assert len(got) == 10
    assert (got["n_dups"] == 2).all()
    assert (got["canonical_id"] < 10).all()


@needs_data
def test_minhash_lsh_finds_planted_near_dups(spark, docs_with_dups):
    pairs = minhash_lsh_duplicates(
        docs_with_dups, num_perm=64, bands=16, threshold=0.6
    ).toPandas()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    # exact copies (jaccard 1.0) must all be found
    for i in range(10):
        assert (i, i + 100000) in found, (i, sorted(found)[:5])
    # near copies (one appended word → very high shingle jaccard)
    near_found = sum((i, i + 200000) in found for i in range(10, 20))
    assert near_found >= 8
    # estimates are calibrated: exact copies estimate 1.0
    exact_rows = pairs[(pairs["id_b"] - pairs["id_a"]) == 100000]
    assert (exact_rows["est_jaccard"] == 1.0).all()


def test_optimal_minhash_bands_tracks_threshold():
    """Band tuning derives from the threshold's S-curve: higher thresholds
    want longer rows (sharper curve further right); more perms refine the
    same optimum; and the returned banding always fits the signature."""
    from bloomine_spark.operators.dedup import optimal_minhash_bands

    b64, r64 = optimal_minhash_bands(64, 0.5)
    b128, r128 = optimal_minhash_bands(128, 0.5)
    b_hi, r_hi = optimal_minhash_bands(128, 0.9)
    assert (b64, r64) == (16, 4)       # the classic 0.5-threshold choice
    assert (b128, r128) == (32, 4)
    assert r_hi > r128                 # 0.9 threshold → longer rows
    for np_, t in ((64, 0.5), (128, 0.5), (128, 0.9), (96, 0.3)):
        b, r = optimal_minhash_bands(np_, t)
        assert 1 <= b * r <= np_
    # collision probability at the threshold stays high for the default
    # recall-weighted objective
    p = 1 - (1 - 0.5 ** r128) ** b128
    assert p > 0.85


@needs_data
def test_minhash_exact_verify_matches_ngram_jaccard(spark, docs_with_dups):
    """verify='exact' recomputes TRUE n-gram Jaccard on the LSH candidates:
    every emitted pair must carry exactly the value ngram_jaccard_pairs
    assigns it, and (near-)all exact-Jaccard pairs above the threshold are
    recovered (S-curve-only loss — no estimator noise)."""
    got = minhash_lsh_duplicates(
        docs_with_dups, num_perm=128, bands=None, threshold=0.5,
        verify="exact",
    ).toPandas()
    want = ngram_jaccard_pairs(docs_with_dups, n=3, min_jaccard=0.5).toPandas()
    want_map = {(a, b): j for a, b, j in
                zip(want["id_a"], want["id_b"], want["jaccard"])}
    for a, b, j in zip(got["id_a"], got["id_b"], got["est_jaccard"]):
        assert (a, b) in want_map, (a, b)          # exact precision
        assert abs(j - want_map[(a, b)]) < 1e-6    # exact values
    assert len(got) >= 0.9 * len(want), (len(got), len(want))


@needs_data
def test_ngram_jaccard_prefix_filter_is_exact(spark, docs_with_dups):
    """Prefix filtering (SSJoin/All-Pairs) must return the IDENTICAL pair
    set + values as the plain self-join at the same threshold — the prefix
    theorem is an exactness guarantee, not an approximation. Covered with
    and without the df cap."""
    for kwargs in ({}, {"max_doc_freq": 50}):
        base = sorted(map(tuple, ngram_jaccard_pairs(
            docs_with_dups, n=3, min_jaccard=0.5, **kwargs).collect()))
        pref = sorted(map(tuple, ngram_jaccard_pairs(
            docs_with_dups, n=3, min_jaccard=0.5, prefix_filter=True,
            **kwargs).collect()))
        assert base == pref and len(base) > 0


@needs_data
def test_simhash_finds_exact_copies(spark, docs_with_dups):
    pairs = simhash_duplicates(docs_with_dups, max_hamming=3).toPandas()
    found = set(zip(pairs["id_a"], pairs["id_b"]))
    for i in range(10):
        assert (i, i + 100000) in found
    h0 = pairs[(pairs["id_b"] - pairs["id_a"]) == 100000]
    assert (h0["hamming"] == 0).all()


@needs_data
def test_ngram_jaccard_matches_pandas_exact(spark, docs_with_dups):
    got = ngram_jaccard_pairs(docs_with_dups, n=3, min_jaccard=0.5).toPandas()
    pdf = docs_with_dups.select("doc_id", "text").toPandas()

    def shingles(t):
        w = t.split(" ")
        return {" ".join(w[i : i + 3]) for i in range(len(w) - 2)}

    sets = {r.doc_id: shingles(r.text) for r in pdf.itertuples()}
    want = []
    ids = sorted(sets)
    import itertools

    for a, b in itertools.combinations(ids, 2):
        sa, sb = sets[a], sets[b]
        if not sa or not sb:
            continue
        inter = len(sa & sb)
        if inter == 0:
            continue
        j = inter / (len(sa) + len(sb) - inter)
        if round(j, 6) >= 0.5:
            want.append((a, b, round(j, 6)))
    got_set = set(zip(got["id_a"], got["id_b"], got["jaccard"]))
    assert got_set == set(want)
    assert len(want) >= 20  # planted dups guarantee signal


@pytest.fixture(scope="module")
def emb_with_dups(spark):
    """embeddings (near-orthogonal random vectors — max natural cosine
    ≈0.48 in the fixture) + 20 planted near-copies at cosine ≈0.99."""
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    rng = np.random.default_rng(0)
    planted = pdf.head(20).copy()
    planted["vec_id"] = planted["vec_id"] + 100000
    planted["embedding"] = [
        (np.asarray(v, dtype=np.float32)
         + rng.normal(0, 0.01, len(v)).astype(np.float32)).tolist()
        for v in planted["embedding"]
    ]
    out = pd.concat([pdf, planted], ignore_index=True)
    return spark.createDataFrame(out), out


@needs_data
def test_embedding_near_dup_exact_vs_numpy(spark, emb_with_dups):
    emb, pdf = emb_with_dups
    got = embedding_near_dup_exact(emb, threshold=0.9).toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = mat @ mat.T
    ids = pdf["vec_id"].to_numpy()
    ii, jj = np.nonzero(np.triu(sims >= 0.9, k=1))
    want = {tuple(sorted((ids[i], ids[j]))) for i, j in zip(ii, jj)}
    assert {tuple(sorted(p)) for p in zip(got["id_a"], got["id_b"])} == want
    assert len(want) == 20  # exactly the planted pairs


@needs_data
def test_embedding_lsh_recall(spark, emb_with_dups):
    emb, _ = emb_with_dups
    exact = embedding_near_dup_exact(emb, threshold=0.9).toPandas()
    lsh = embedding_near_dup_lsh(
        emb, threshold=0.9, n_planes=12, n_tables=8
    ).toPandas()
    exact_pairs = {tuple(sorted(p)) for p in zip(exact["id_a"], exact["id_b"])}
    lsh_pairs = {tuple(sorted(p)) for p in zip(lsh["id_a"], lsh["id_b"])}
    # no false positives (exact verify step) and high recall on ~0.99 pairs
    assert lsh_pairs <= exact_pairs
    assert len(lsh_pairs) / len(exact_pairs) >= 0.9


@needs_data
def test_brute_force_topk_vs_numpy(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    mat = np.array(list(pdf["embedding"]), dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    ids = pdf["vec_id"].to_numpy()
    queries = [(int(ids[i]), list(map(float, pdf["embedding"][i]))) for i in range(3)]
    got = brute_force_topk(emb, queries, k=5).toPandas()
    for qid, qvec in queries:
        qn = np.array(qvec) / np.linalg.norm(qvec)
        sims = mat @ qn
        sims[ids == qid] = -np.inf
        want = set(ids[np.argsort(-sims)[:5]])
        gq = set(got[got["query_id"] == qid]["neighbor_id"])
        assert gq == want, qid


@needs_data
def test_ivf_topk_recall(spark):
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    pdf = emb.toPandas()
    ids = pdf["vec_id"].to_numpy()
    queries = [(int(ids[i]), list(map(float, pdf["embedding"][i]))) for i in range(5)]
    exact = brute_force_topk(emb, queries, k=10).toPandas()

    def recall(approx):
        recalls = []
        for qid, _ in queries:
            e = set(exact[exact["query_id"] == qid]["neighbor_id"])
            a = set(approx[approx["query_id"] == qid]["neighbor_id"])
            recalls.append(len(e & a) / len(e))
        return float(np.mean(recalls))

    from bloomine_spark.operators.similarity import train_ivf_centroids

    cent = train_ivf_centroids(emb, nlist=8)
    r1 = recall(ivf_topk(emb, queries, k=10, nlist=8, nprobe=3,
                         centroids=cent).toPandas())
    assert r1 >= 0.6, r1
    # multi-assignment (the recall dial that keeps the probe width): each
    # vector in its top-3 cells — only all-cells-unprobed neighbors are
    # lost, and no neighbor may appear twice in a query's top-k
    a3 = ivf_topk(emb, queries, k=10, nlist=8, nprobe=3, centroids=cent,
                  assign=3).toPandas()
    assert not a3.duplicated(["query_id", "neighbor_id"]).any()
    r3 = recall(a3)
    assert r3 >= max(r1, 0.9), (r1, r3)


# ----------------------------------------------------- short-doc guards
def test_short_docs_do_not_crash_shingling(spark):
    """sequence(0, size-n) with size<n yields a DESCENDING array in Spark;
    unguarded, transform+slice crashes for any doc with <n words. Short
    docs must instead contribute an empty shingle set (ADVICE r1)."""
    rows = [
        (1, "one"),
        (2, "two words"),
        (3, "three words here"),
        (4, "three words here"),
        (5, "a much longer document with several words in it"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = ngram_jaccard_pairs(docs, n=3, min_jaccard=0.5).toPandas()
    # identical 3-word docs pair at jaccard 1.0; 1/2-word docs pair nothing
    assert set(zip(pairs["id_a"], pairs["id_b"])) == {(3, 4)}
    mh = minhash_lsh_duplicates(docs, num_perm=64, bands=16, threshold=0.5).toPandas()
    assert set(zip(mh["id_a"], mh["id_b"])) == {(3, 4)}


def test_entry_kgram_expr_handles_short_docs(spark):
    import __spark_entry__ as e

    docs = spark.createDataFrame(
        [(1, "one"), (2, "two words"), (3, "exactly three words")],
        ["doc_id", "text"],
    )
    got = docs.select(
        "doc_id", F.explode(e._kgram_str_expr(3)).alias("g")
    ).toPandas()
    assert list(got["doc_id"]) == [3]
    assert list(got["g"]) == ["exactly three words"]


def test_ngram_jaccard_max_doc_freq_caps_posting_lists(spark):
    """A shingle shared by all docs must not generate f² candidates when
    capped; pairs sharing only distinctive shingles are still found, and
    jaccard is computed over the capped universe on both sides."""
    common = "the quick brown fox jumps"  # 3 shared shingles in every doc
    rows = [(i, f"{common} unique{i} filler{i} tail{i}") for i in range(40)]
    # planted near-dup pair sharing distinctive content
    rows.append((100, f"{common} special one two three four five"))
    rows.append((101, f"{common} special one two three four five"))
    docs = spark.createDataFrame(rows, ["doc_id", "text"])

    capped = ngram_jaccard_pairs(
        docs, n=3, min_jaccard=0.3, max_doc_freq=5
    ).toPandas()
    # ultra-frequent shingles dropped -> the 40 filler docs share nothing
    assert set(zip(capped["id_a"], capped["id_b"])) == {(100, 101)}
    assert (capped["jaccard"] == 1.0).all()

    # uncapped: every doc pairs with every other through the common phrase
    # (jaccard small, but the candidate space is the full f² blow-up)
    uncapped = ngram_jaccard_pairs(
        docs, n=3, min_jaccard=0.0001, max_doc_freq=None
    ).toPandas()
    assert len(uncapped) == 42 * 41 // 2


def test_embedding_exact_guard_trips(spark):
    rows = [(i, [float(i), 1.0, 0.0]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    with pytest.raises(ValueError, match="embedding_near_dup_lsh"):
        embedding_near_dup_exact(emb, threshold=0.9, max_broadcast_rows=10)


def test_winnow_min_fp_consistent(spark):
    """min_fp must equal array_min(fingerprints) in the signed int64 domain
    even when a uint64 hash >= 2^63 wraps negative (ADVICE r1)."""
    from bloomine_spark.operators.textops import fingerprint_winnow

    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(100)
    got = fingerprint_winnow(docs).toPandas()
    assert len(got) == 100
    for _, r in got.iterrows():
        assert r["min_fp"] == min(r["fingerprints"])
    # at least one doc exercises the wrap (hashes are uniform over uint64)
    assert (got["min_fp"] < 0).any()


def test_winnow_sql_guarantees(spark):
    """fingerprint_winnow_sql (the oracle-hash-checked Catalyst variant):
    (a) winnowing's coverage guarantee — any shared word run of length
    >= window + k - 1 (= 11 at defaults) yields >= 1 shared fingerprint;
    (b) a doc with k <= n_words < k + window - 1 has exactly one
    fingerprint; (c) fingerprints are sorted distinct, min_fp is first;
    (d) docs shorter than k words are dropped."""
    from bloomine_spark.operators.textops import fingerprint_winnow_sql

    shared = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo"
    rows = [
        (1, "one two three " + shared + " four five six"),
        (2, shared + " seven eight nine ten eleven twelve"),
        (3, "tiny little doc here"),          # 4 words -> 1 k-gram
        (4, "way too short"),                 # 3 words -> dropped
        (5, "a completely unrelated document about parquet shuffles and "
            "broadcast joins that shares no run with the others at all"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r
        for r in fingerprint_winnow_sql(docs).collect()
    }
    assert set(got) == {"1", "2", "3", "5"}                      # (d)
    assert set(got["1"]["fingerprints"]) & set(got["2"]["fingerprints"])  # (a)
    assert not set(got["1"]["fingerprints"]) & set(got["5"]["fingerprints"])
    assert got["3"]["n_fingerprints"] == 1                       # (b)
    for r in got.values():                                       # (c)
        fps = r["fingerprints"]
        assert fps == sorted(set(fps))
        assert r["min_fp"] == fps[0]
        assert r["n_fingerprints"] == len(fps)


def test_contamination_screen_planted(spark):
    """A train doc that embeds an 8-gram from the eval set is flagged with
    the exact distinct-shared-shingle count; clean docs are untouched and
    decontaminate() drops exactly the flagged doc."""
    from bloomine_spark.operators.dedup import (
        contamination_screen,
        decontaminate,
    )

    eval_text = "the sly red panda climbs over the mossy stone wall at dawn"
    train_rows = [
        # embeds words 0..9 of eval_text (10 words -> 3 distinct 8-grams)
        (1, "prefix words then " + " ".join(eval_text.split()[:10])
         + " and an unrelated tail follows here"),
        (2, "completely different content about parquet files and shuffles "
            "with nothing in common at all"),
        (3, "another clean document that goes on about bloom filters and "
            "sketches for a while longer"),
    ]
    train = spark.createDataFrame(train_rows, ["doc_id", "text"])
    test_set = spark.createDataFrame([(100, eval_text)], ["doc_id", "text"])

    hits = contamination_screen(train, test_set, n=8).toPandas()
    assert list(hits["doc_id"]) == [1]
    assert int(hits["n_shared_ngrams"].iloc[0]) == 3  # 10 words, n=8

    clean = decontaminate(train, test_set, n=8).toPandas()
    assert sorted(clean["doc_id"]) == [2, 3]


def test_ivf_indexed_prunes_partitions_and_matches(spark, tmp_path):
    """Materialized IVF index: (1) querying the cell-partitioned layout
    reads ONLY the probed cells' files (real partition pruning, not just
    an in-kernel mask), and (2) results equal ivf_topk over the full
    table with the same centroids."""
    from bloomine_spark.operators.similarity import (
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    # 2 queries x nprobe 2 -> at most 4 of 8 cells probed, so the pruning
    # subset-assertion is meaningful (more queries union toward all cells
    # on this near-orthogonal fixture)
    rows = emb.filter(F.col("vec_id") < 2).collect()
    queries = [(int(r["vec_id"]), list(map(float, r["embedding"])))
               for r in rows]
    idx = str(tmp_path / "ivf_idx")
    centroids = train_ivf_centroids(emb, nlist=8)
    write_ivf_index(emb, idx, nlist=8, centroids=centroids)

    got = ivf_topk_indexed(spark, idx, queries, k=10, nprobe=2)
    # pruning: the scan carries a PartitionFilter on the cell directory
    # column with FEWER than nlist cells (inputFiles() ignores pruning;
    # the physical plan is the ground truth)
    import re

    plan = got._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[cell#\d+ IN \(([^)]*)\)\]", plan)
    assert m, plan[:800]
    probed = {int(c) for c in m.group(1).split(",")}
    assert 0 < len(probed) <= 4 < 8, probed
    # and the full layout really has all 8 cell dirs
    cells_all = {f.split("cell=")[1].split("/")[0]
                 for f in spark.read.parquet(idx).inputFiles()}
    assert len(cells_all) == 8

    want = ivf_topk(emb, queries, k=10, nlist=8, nprobe=2,
                    centroids=centroids).collect()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want))
    assert len(want) == 20

    # ADVICE r4-low: an index on HDFS/S3 persists centroids as a
    # saveAsTextFile dir, not a posix JSON — the query path must read that
    # form too. Simulate by swapping the JSON for the .d layout.
    import json as _json
    import shutil

    from bloomine_spark.operators.similarity import _centroids_sibling

    cj = os.path.join(idx, "_IVF_CENTROIDS.json")
    blob = open(cj).read()
    os.remove(cj)
    dd = _centroids_sibling(idx)
    os.makedirs(dd)
    with open(os.path.join(dd, "part-00000"), "w") as fh:
        fh.write(blob + "\n")
    got2 = ivf_topk_indexed(spark, idx, queries, k=10, nprobe=2).collect()
    assert sorted(map(tuple, got2)) == sorted(map(tuple, want))
    shutil.rmtree(dd)
    with open(cj, "w") as fh:
        fh.write(blob)
    assert _json.loads(blob)  # sanity: the round-tripped blob is valid JSON

    # multi-assigned index: assign rides in the metadata, the query path
    # masks identically (== in-kernel ivf_topk at the same assign), no
    # duplicate neighbors despite vectors materialized in several cells
    idx2 = str(tmp_path / "ivf_idx_a2")
    write_ivf_index(emb, idx2, nlist=8, centroids=centroids, assign=2)
    assert spark.read.parquet(idx2).count() == 2 * emb.count()
    got_a2 = ivf_topk_indexed(spark, idx2, queries, k=10, nprobe=2).toPandas()
    assert not got_a2.duplicated(["query_id", "neighbor_id"]).any()
    want_a2 = ivf_topk(emb, queries, k=10, nlist=8, nprobe=2,
                       centroids=centroids, assign=2).toPandas()
    assert sorted(map(tuple, got_a2.itertuples(index=False))) == \
        sorted(map(tuple, want_a2.itertuples(index=False)))


def test_dedup_candidate_growth_gates(tmp_path):
    """Continuous gate on the dedup family's scale behavior: BENCH/
    dedup_scale.py at a small base (800/8k/24k docs) must pass its three
    gates — MinHash candidate exponent ~linear, jaccard analytic cap
    bound, planted-clone recall (subprocess; --no-report keeps the
    committed full-scale BENCH/DEDUP_SCALE.md intact)."""
    import json as _json
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    # a 3 GB driver heap, not the 8 GB default: next to the test session's
    # own JVM two 8 GB heaps overcommit a 16 GB host. At base 800 the run
    # grows into the heap it is given (8 GB: 7.5 GB used, 9.3 GB JVM RSS;
    # 3 GB: 2.8 GB used, 3.8 GB RSS) and still passes with 2 GB
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "BENCH", "dedup_scale.py"),
         "800", "--no-report"],
        capture_output=True, text=True, timeout=540,
        env={**os.environ, "SPARK_DRIVER_MEM": "3g"},
    )
    assert r.returncode == 0, r.stderr[-2000:]
    d = _json.loads(r.stdout.strip().splitlines()[-1])
    assert d["pass"] is True
    assert d["growth_exponents"]["minhash_candidates"][-1] <= 1.5
    assert d["analytic_bound_holds"] is True


def test_ann_scale_gates(tmp_path):
    """Continuous gate on the ANN family's scale behavior: BENCH/
    ann_scale.py at a small base must pass its four gates — IVF recall
    >= 0.9 under 81% cell pruning, partition pruning present in the
    executed plan, scanned rows AND bytes near the nprobe/nlist design
    point (subprocess; --no-report keeps the committed full-scale
    BENCH/ANN_SCALE.md intact)."""
    import json as _json
    import subprocess
    import sys as _sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    r = subprocess.run(
        [_sys.executable, os.path.join(repo, "BENCH", "ann_scale.py"),
         "12000", "--no-report"],  # deterministic (seeded): first-point
         # recall is exactly 0.900 at this base; smaller corpora dip below
         # 0.9 (sampled-centroid noise shrinks with N — measured 0.89 at
         # 4k/8k rising to 0.95 at 50k+)
        capture_output=True, text=True, timeout=540,
    )
    assert r.returncode == 0, r.stderr[-2000:]
    d = _json.loads(r.stdout.strip().splitlines()[-1])
    assert d["pass"], d


def test_ivf_index_rebuild_remote_metadata_path(spark, tmp_path):
    """ADVICE r5: rebuilding an index at the same REMOTE path must replace
    the centroid sibling dir, not FileAlreadyExists. A `file:` URI makes
    the local `open()` fail (no directory literally named 'file:'), so
    the write takes the Hadoop-FS fallback exactly as it would on
    HDFS/S3 — twice — and the query path reads the sibling back through
    textFile."""
    from bloomine_spark.operators.similarity import (
        ivf_topk,
        ivf_topk_indexed,
        train_ivf_centroids,
        write_ivf_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    centroids = train_ivf_centroids(emb, nlist=8)
    idx = "file:" + str(tmp_path / "remote_idx")
    write_ivf_index(emb, idx, nlist=8, centroids=centroids)
    # sibling metadata went through saveAsTextFile, not open()
    sib = tmp_path / "remote_idx.IVF_CENTROIDS.d"
    assert sib.is_dir() and not (tmp_path / "remote_idx" / "_IVF_CENTROIDS.json").exists()
    # rebuild at the SAME path: pre-fix this raised FileAlreadyExists on
    # the sibling; now both halves overwrite
    write_ivf_index(emb, idx, nlist=8, centroids=centroids, assign=2)

    rows = emb.filter(F.col("vec_id") < 2).collect()
    queries = [(int(r["vec_id"]), list(map(float, r["embedding"])))
               for r in rows]
    got = ivf_topk_indexed(spark, idx, queries, k=10, nprobe=2).toPandas()
    want = ivf_topk(emb, queries, k=10, nlist=8, nprobe=2,
                    centroids=centroids, assign=2).toPandas()
    key = lambda df: sorted(map(tuple, df[["query_id", "neighbor_id"]].values.tolist()))  # noqa: E731
    assert key(got) == key(want)
