"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → signature → band →
bucket-join), SimHash (bit-vote + hamming banding), and exact n-gram
Jaccard (explode + equi-join, fully relational). All candidate generation
is join-based — no cross joins — so the shuffle volume is bounded by
shared-bucket/shared-shingle pair counts, not n², which is what survives a
100 TB corpus. Signature computation is vectorized numpy over Arrow
batches.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.functions.hashing import splitmix64


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicates(
    df: DataFrame, key_expr, id_col: str = "doc_id"
) -> DataFrame:
    """Exact duplicate groups by a content fingerprint expression.

    Groups on md5 of the content (128-bit → collision-free in practice);
    returns (fingerprint, n_dups, canonical_id) for groups of size > 1.
    Narrow shuffle: only (fingerprint, id) leaves the scan.
    """
    return (
        df.select(F.md5(key_expr).alias("fingerprint"), F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.count("*").alias("n_dups"), F.min(id_col).alias("canonical_id"))
        .filter(F.col("n_dups") > 1)
    )


# ---------------------------------------------------------------------------
# shingling (shared by minhash / jaccard)
# ---------------------------------------------------------------------------

def _word_shingles_expr(text_col: str, n: int):
    # Guarded: a doc with fewer than n words produces an empty shingle set
    # (slice at a negative length would error; the old sequence(0, -1)
    # formulation had the same guard for the same reason).
    #
    # Construction is a zip_with ladder over the word array instead of the
    # old per-index slice+concat_ws transform: element j of round k is
    # words[j..j+k] joined by single spaces, so after n-1 rounds the first
    # size-n+1 elements are exactly the n-gram strings (byte-identical to
    # the old expression — verified over the full sf1.0 corpus). The old
    # form allocated a fresh slice array per gram and re-walked the word
    # array per index; the ladder is one linear pass per round (measured
    # 13.7s → 2.2s for the gram build at sf1.0, guide §1.2 "per-task
    # work"). concat (vs concat_ws) is safe: split() never yields nulls.
    words = F.split(F.col(text_col), " ")
    g = words
    for k in range(1, n):
        g = F.zip_with(
            g,
            F.slice(words, k + 1, F.greatest(F.size(words) - k, F.lit(0))),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.when(
        F.size(words) >= n,
        F.array_distinct(F.slice(g, 1, F.size(words) - n + 1)),
    ).otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_jaccard: float = 0.5,
    max_doc_freq: int | None = None,
    prefix_filter: bool = False,
) -> DataFrame:
    """EXACT n-gram Jaccard similarity pairs via shared-shingle equi-join.

    Fully relational (SQL-oracle-checkable): distinct shingles per doc →
    self-equi-join on shingle → pair intersection counts → |A|+|B|−∩ union.
    Only docs sharing ≥1 shingle ever pair up.

    ``max_doc_freq`` caps the posting list: a shingle shared by f docs
    contributes f² rows to the self-join, so one ultra-frequent shingle
    ("of the and") detonates the shuffle at corpus scale. Shingles with
    document frequency > cap are dropped from CANDIDATE GENERATION AND from
    the intersection count — i.e. Jaccard is computed over the capped
    shingle universe on both sides (doc sizes are recomputed post-cap), so
    the result is exactly the oracle's answer on the same capped universe.
    Recall effect: a pair is missed only if ALL of its shared shingles are
    ultra-frequent — such pairs share no distinctive content and are
    near-dup noise, not signal. Default None = uncapped (exact classic
    Jaccard; fine at test scale, cap at ≥ corpus scale).

    ``prefix_filter=True`` adds the classic EXACT prefix-filtering
    optimization (Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs):
    under a global shingle order (rarest first), two sets with
    J(A,B) ≥ t must share a shingle within their first
    ``|x| − ⌈t·|x|⌉ + 1`` shingles, so only those PREFIXES feed the
    self-join, and intersections are recounted over the FULL sets for the
    surviving candidates — result identical by the prefix theorem
    (exactness is pinned in tests). WHEN to use it: corpora whose
    vocabulary grows with size (Heaps' law), where rare-first prefixes
    are selective and the posting-list df² term dominates. Measured
    honestly: on the driver's pathological 31-word-vocabulary fixture it
    LOSES (47s → 157s at 50k docs, same 388 pairs) because every shingle
    is common, prefixes barely prune, and the rank window + candidate
    re-join are pure overhead — hence default False; ``max_doc_freq`` is
    the cost bound that actually binds on dense corpora.
    """
    if prefix_filter and min_jaccard > 0:
        sh = (
            df.select(F.col(id_col).alias("id"), F.explode(
                _word_shingles_expr(text_col, n)).alias("g"))
            .filter(F.col("g") != "")
            .distinct()
        )
        if max_doc_freq is not None:
            freq0 = sh.groupBy("g").agg(F.count("*").alias("_df"))
            sh = (
                sh.join(freq0, "g")
                .filter(F.col("_df") <= max_doc_freq)
                .select("id", "g")
            )
        sizes = sh.groupBy("id").agg(F.count("*").alias("sz"))
        # canonical order: ascending document frequency, shingle as the
        # deterministic tiebreak — rare shingles first maximizes pruning
        freq = sh.groupBy("g").agg(F.count("*").alias("_gdf"))
        w = Window.partitionBy("id").orderBy("_gdf", "g")
        pref = (
            sh.join(freq, "g")
            .join(sizes, "id")
            .withColumn("_rk", F.row_number().over(w))
            .filter(
                F.col("_rk")
                <= F.col("sz") - F.ceil(F.lit(float(min_jaccard)) * F.col("sz"))
                + 1
            )
            .select("id", "g")
        )
        a, b = pref.alias("a"), pref.alias("b")
        cand = (
            a.join(
                b,
                (F.col("a.g") == F.col("b.g"))
                & (F.col("a.id") < F.col("b.id")),
            )
            .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"])
        )
        # exact intersection over the FULL sets, candidates only
        inter = (
            cand.join(sh.select(F.col("id").alias("id_a"), "g"), "id_a")
            .join(sh.select(F.col("id").alias("id_b"), "g"), ["id_b", "g"])
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("inter"))
        )
        return (
            inter.join(sizes.withColumnRenamed("id", "id_a").withColumnRenamed("sz", "sz_a"), "id_a")
            .join(sizes.withColumnRenamed("id", "id_b").withColumnRenamed("sz", "sz_b"), "id_b")
            .withColumn(
                "jaccard",
                F.round(
                    F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6
                ),
            )
            .filter(F.col("jaccard") >= min_jaccard)
            .select("id_a", "id_b", "jaccard")
        )
    # Default path: posting-list pair generation instead of a shingle
    # self-join (guide §2.3/§2.4). One groupBy(g) builds the per-shingle
    # posting list (collect_set dedups (g,id) in the same exchange a
    # distinct would have needed); ordered candidate pairs are generated
    # IN-EXPRESSION from the sorted list — C(df,2) rows map-side, half
    # the self-join's df² enumeration and two fewer exchanges (no second
    # shuffle of the postings into the join, no sizes join onto every
    # posting). Grams ride as xxhash64 int64s, so no shuffle ever
    # carries gram text. sz_a/sz_b attach to the (far smaller) pair
    # relation afterward; the old pre-shuffle size-ratio prune is
    # subsumed by the jaccard threshold filter (result unchanged).
    pairs = _posting_pair_intersections(df, text_col, id_col, n, max_doc_freq)
    return (
        pairs.withColumn(
            "jaccard",
            F.round(
                F.col("inter")
                / (F.col("sz_a") + F.col("sz_b") - F.col("inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= min_jaccard)
        .select("id_a", "id_b", "jaccard")
    )


def _ordered_pairs_expr(ids):
    """All ordered pairs (id_a < id_b) of a SORTED-ascending array column
    as an array<struct<id_a,id_b>> — the map-side replacement for a
    bucket self-join: C(n,2) combinations, generated where the list
    already lives, no second shuffle and no join machinery."""
    return F.flatten(
        F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids) - i - 1),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )


def _posting_pair_intersections(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    max_doc_freq: int | None,
) -> DataFrame:
    """Shared candidate-pair core of the exact shingle-overlap family:
    → (id_a, id_b, sz_a, sz_b, inter) with id_a < id_b, sizes over the
    capped shingle universe.

    Shape: explode shingles → hash gram text to int64 (the only thing a
    shuffle ever carries) → df cap via a window count over g → per-doc
    capped sizes (one narrow aggregate, its exchange reused by the join
    back) → ONE groupBy(g) collecting (id, sz) posting lists →
    sorted-list ordered-pair explosion (map-side, C(df,2) per shingle —
    half the self-join's df² enumeration) → pair count aggregate with
    the sizes riding the KEYS (functionally dependent on the ids, so
    groups are unchanged and no post-aggregation join is needed — which
    also sidesteps a real planner trap: the candidate-pair aggregate
    sits over an explode, whose static size estimate is so far below
    reality that the planner broadcast the 67M-row pair relation at
    sf1.0 and OOMed the driver; with no join above the pair aggregate
    there is nothing to mis-broadcast). With a df cap the lists are
    bounded at ``max_doc_freq``; uncapped, a degenerate ultra-frequent
    shingle concentrates in one list — the same df² blow-up the join
    formulation had, so cap at corpus scale (the operators' documented
    posture). ``id_col`` must identify rows uniquely (a doc id).
    """
    posts = (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(_word_shingles_expr(text_col, n)).alias("g"),
        )
        .filter(F.col("g") != "")
        .select("id", F.xxhash64("g").alias("g"))
    )
    if max_doc_freq is not None:
        capped = posts.withColumn(
            "_df", F.count("*").over(Window.partitionBy("g"))
        ).filter(F.col("_df") <= max_doc_freq).select("id", "g")
    else:
        capped = posts
    sizes = capped.groupBy("id").agg(F.count("*").alias("sz"))
    gl = (
        capped.join(sizes, "id")
        .groupBy("g")
        .agg(
            F.array_sort(
                F.collect_set(F.struct(F.col("id"), F.col("sz")))
            ).alias("mems")
        )
    )
    p = F.explode(_ordered_pairs_expr(F.col("mems"))).alias("p")
    # sz_a/sz_b are functionally dependent on the ids, so they need not
    # be GROUPING keys — carrying them as min() aggregates (min of a
    # per-group constant = the constant, exact) halves the aggregation
    # key width, and the candidate-pair aggregate's cost tracks key
    # bytes almost linearly (measured at 10× sf0.1: 4-long keys 15 s of
    # agg, 2-long keys 10 s; a single packed id_a·2³²+id_b key would be
    # 4 s but ties correctness to id magnitude and a dictionary decode
    # would not broadcast at corpus scale — rejected). The no-join-above
    # posture that dodges the explode-underestimate broadcast trap is
    # unchanged.
    return (
        gl.select(p)
        .groupBy(
            F.col("p.id_a.id").alias("id_a"),
            F.col("p.id_b.id").alias("id_b"),
        )
        .agg(
            F.count("*").alias("inter"),
            F.min(F.col("p.id_a.sz")).alias("sz_a"),
            F.min(F.col("p.id_b.sz")).alias("sz_b"),
        )
    )


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def ngram_containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    min_containment: float = 0.8,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT n-gram CONTAINMENT pairs — the asymmetric near-dup signal
    (Broder 1997's containment c(A,B) = |A∩B| / |A|): a quote, a
    boilerplate block, or a page embedded verbatim inside a larger page
    scores ~1.0 in one direction while Jaccard — diluted by the larger
    doc's size — stays low, so a Jaccard-threshold dedup never sees it.
    Emits one row per unordered candidate pair with BOTH directions:
    ``(id_a, id_b, inter, sz_a, sz_b, c_a_in_b, c_b_in_a)``, kept when
    ``greatest(c_a_in_b, c_b_in_a) >= min_containment``.

    Same plan skeleton as :func:`ngram_jaccard_pairs` (shared-shingle
    self-equi-join, sizes riding the postings so the pair groupBy needs
    no re-join), with the containment analogue of the size-ratio prune:
    max direction = inter / min(sz) and inter <= min(sz)... which is
    always 1-boundable, so the ONLY sound prune here is the df cap —
    ``max_doc_freq`` has the identical capped-universe semantics as in
    the Jaccard operator (containment recomputed over the capped
    shingle universe on both sides).
    """
    # same posting-list pair-generation core as ngram_jaccard_pairs
    # (guide §2.3/§2.4): one exchange into per-shingle posting lists,
    # ordered pairs generated in-expression, sizes attached to the small
    # pair relation — no shingle self-join, no gram text in any shuffle
    pairs = _posting_pair_intersections(df, text_col, id_col, n, max_doc_freq)
    c_ab = F.round(F.col("inter") / F.col("sz_a"), 6)
    c_ba = F.round(F.col("inter") / F.col("sz_b"), 6)
    return (
        pairs.select(
            "id_a", "id_b", "inter", "sz_a", "sz_b",
            c_ab.alias("c_a_in_b"), c_ba.alias("c_b_in_a"),
        )
        .filter(
            F.greatest(F.col("c_a_in_b"), F.col("c_b_in_a"))
            >= F.lit(float(min_containment))
        )
    )


def _minhash_signatures_kernel(num_perm: int):
    """Arrow-native minhash: the shingle-hash list column is consumed
    through its contiguous values+offsets buffers (zero copy, no per-row
    ndarrays), per-permutation minima via ``np.minimum.reduceat``, and the
    signature column is emitted as one flat int64 buffer + offsets — no
    per-row Python anywhere."""
    import pyarrow as pa

    from bloomine_spark.functions.kgrams import token_batch_from_arrow

    seeds = np.arange(1, num_perm + 1, dtype=np.uint64)
    seed_mix = splitmix64(seeds)

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            if rb.num_rows == 0:
                continue
            batch = token_batch_from_arrow(rb, "_shingle_hashes")
            keep = batch.lens > 0
            if not keep.any():
                continue
            kidx = np.flatnonzero(keep)
            lens = batch.lens[kidx]
            # empty rows occupy no space in the flat buffer, so the kept
            # rows' segments are already contiguous in row order
            flat = batch.flat
            nrows = len(kidx)
            starts = np.zeros(nrows + 1, dtype=np.int64)
            np.cumsum(lens, out=starts[1:])
            # cache-blocked + zero-alloc: process row groups whose flat
            # segment fits L2 (~2^16 values), reusing ONE scratch buffer —
            # the naive loop allocates 2 full-flat temporaries per
            # permutation (128 per batch) and streams the whole buffer
            # num_perm times instead of keeping each segment hot
            ch = 1 << 16
            sig_t = np.empty((num_perm, nrows), dtype=np.uint64)
            buf = np.empty(min(int(starts[-1]), max(ch, int(lens.max()))),
                           dtype=np.uint64)
            r0 = 0
            while r0 < nrows:
                r1 = int(np.searchsorted(starts, starts[r0] + ch, "right")) - 1
                r1 = min(max(r1, r0 + 1), nrows)
                seg = flat[starts[r0] : starts[r1]]
                if len(buf) < len(seg):
                    buf = np.empty(len(seg), dtype=np.uint64)
                b = buf[: len(seg)]
                off = starts[r0:r1] - starts[r0]
                for j in range(num_perm):
                    np.bitwise_xor(seg, seed_mix[j], out=b)
                    splitmix64(b, inplace=True)
                    sig_t[j, r0:r1] = np.minimum.reduceat(b, off)
                r0 = r1
            sig_col = pa.ListArray.from_arrays(
                pa.array(np.arange(nrows + 1, dtype=np.int32) * num_perm),
                pa.array(np.ascontiguousarray(sig_t.T).ravel().view(np.int64)),
            )
            doc = rb.column(rb.schema.get_field_index("doc_id")).take(
                pa.array(kidx)
            )
            yield pa.RecordBatch.from_arrays(
                [doc, sig_col], ["doc_id", "signature"]
            )

    return kernel


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
) -> DataFrame:
    """(doc_id, signature array<long>[num_perm]) via vectorized minhash."""
    pre = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            _word_shingles_expr(text_col, n), lambda g: F.xxhash64(g)
        ).alias("_shingle_hashes"),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", pre.schema["doc_id"].dataType),
            T.StructField("signature", T.ArrayType(T.LongType())),
        ]
    )
    return pre.mapInArrow(_minhash_signatures_kernel(num_perm), schema=schema)


def _band_buckets_col(bands: int, r: int):
    """The exploded (band, bucket) struct column over ``signature`` —
    THE banding contract, shared by batch LSH, the persisted dedup
    index (build and screen must stay byte-identical or screens find
    zero candidates with no error), and the streaming LSH monitor
    (review finding: this expression existed four times verbatim)."""
    return F.explode(
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda b: F.struct(
                b.alias("band"),
                F.xxhash64(
                    F.concat_ws(",", F.slice("signature", b * r + 1, r))
                ).alias("bucket"),
            ),
        )
    ).alias("bb")


def optimal_minhash_bands(
    num_perm: int,
    threshold: float,
    fp_weight: float = 0.2,
    fn_weight: float = 0.8,
) -> tuple[int, int]:
    """(bands, rows) minimizing the weighted false-positive/false-negative
    integrals of the LSH S-curve ``1-(1-s^r)^b`` around ``threshold`` — the
    standard band-tuning criterion (MMDS ch.3; same shape as datasketch's
    ``_optimal_param``). Recall-weighted by default: a candidate false
    positive only costs verification compute, a false negative is a missed
    duplicate — so fn_weight > fp_weight. ``bands*rows`` may be < num_perm
    (the trailing signature values just go unused by the banding).

    Static (bands=16, r=4) defaults cost real recall at scale: clones
    sitting just above the threshold collide with probability only ~0.64
    at s=0.5 under (16,4)x64, vs ~0.87 under the tuned (32,4)x128 —
    measured on the 150k-doc corpus in BENCH/DEDUP_SCALE.md.
    """
    xs = np.linspace(0.0, 1.0, 1001)
    lo, hi = xs < threshold, xs >= threshold
    # np.trapz was deprecated in NumPy 2.0 in favor of np.trapezoid
    trapezoid = getattr(np, "trapezoid", np.trapz)
    best = None
    for r in range(1, num_perm + 1):
        b = num_perm // r
        p = 1.0 - (1.0 - xs**r) ** b
        err = fp_weight * trapezoid(p[lo], xs[lo]) + fn_weight * trapezoid(
            1.0 - p[hi], xs[hi]
        )
        if best is None or err < best[0]:
            best = (err, b, r)
    return best[1], best[2]


def minhash_lsh_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int | None = 16,
    threshold: float = 0.7,
    verify: str = "est",
) -> DataFrame:
    """Near-duplicate pairs via MinHash banding.

    signature → b bands of r values → band-hash bucket equi-join →
    candidate pairs → verification ≥ threshold. Collision probability of a
    t-similar pair in ≥1 band is 1-(1-t^r)^b (the standard S-curve).

    ``bands=None`` derives (bands, rows) from the threshold via
    ``optimal_minhash_bands`` instead of inheriting a static default —
    at scale the right banding depends on where the threshold sits.

    ``verify`` selects the candidate confirmation:
    - ``"est"``: estimated Jaccard = matching-signature fraction. Zero
      extra I/O, but a pair whose true Jaccard sits just above the
      threshold passes only ~P(Binom(num_perm, J)/num_perm ≥ t) — at
      J=0.54, t=0.5, 64 perms that is ~0.78, a real recall cap.
    - ``"exact"``: recompute TRUE n-gram Jaccard for the candidate pairs
      only (LSH already bounded them), via the same shared-shingle join
      as ``ngram_jaccard_pairs``. Exact precision and no estimator noise;
      the only recall loss left is the S-curve itself. This is the
      production posture for corpus-scale dedup.
    """
    if bands is None:
        bands, r = optimal_minhash_bands(num_perm, threshold)
    else:
        assert num_perm % bands == 0
        r = num_perm // bands
    sig = minhash_signatures(df, text_col, id_col, n, num_perm).cache()
    # band join carries ONLY (doc_id, band, bucket): candidate pairs are
    # deduplicated as bare id pairs BEFORE the 64-long signature arrays are
    # attached (two narrow joins), so signatures never ride through the
    # exploded band join — at sf0.1 this halves the operator's wall time
    banded = sig.select(
        "doc_id",
        _band_buckets_col(bands, r),
    ).select("doc_id", "bb.band", "bb.bucket")

    # bucket-membership pair generation instead of a band self-join
    # (guide §2.3/§2.4): ONE exchange into (band, bucket) posting lists,
    # ordered pairs generated in-expression map-side — half the df²
    # enumeration of the self-join and one fewer shuffle of the banded
    # relation; the dedup across bands is unchanged
    cand_ids = (
        banded.groupBy("band", "bucket")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
        .select(F.explode(_ordered_pairs_expr(F.col("ids"))).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    if verify == "exact":
        return _verify_exact_jaccard(df, cand_ids, text_col, id_col, n,
                                     threshold)
    cand = (
        cand_ids.join(
            sig.select(F.col("doc_id").alias("id_a"),
                       F.col("signature").alias("sig_a")), "id_a")
        .join(
            sig.select(F.col("doc_id").alias("id_b"),
                       F.col("signature").alias("sig_b")), "id_b")
    )
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def _verify_exact_jaccard(
    df: DataFrame,
    cand_ids: DataFrame,
    text_col: str,
    id_col: str,
    n: int,
    threshold: float,
) -> DataFrame:
    """Exact n-gram Jaccard for an LSH-bounded candidate-pair set.

    The shingle table joins only against the candidate ids, so the work is
    O(candidates × avg shingles) — the LSH banding already did the n²
    elimination. Output column is named ``est_jaccard`` for interface
    stability with the estimator path (the value is exact here)."""
    sh = (
        df.select(F.col(id_col).alias("doc_id"), F.explode(
            _word_shingles_expr(text_col, n)).alias("g"))
        .filter(F.col("g") != "")
        .distinct()
    )
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    inter = (
        cand_ids.join(
            sh.select(F.col("doc_id").alias("id_a"), "g"), "id_a")
        .join(sh.select(F.col("doc_id").alias("id_b"), "g"), ["id_b", "g"])
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("inter"))
    )
    return (
        inter.join(sizes.select(F.col("doc_id").alias("id_a"),
                                F.col("sz").alias("sz_a")), "id_a")
        .join(sizes.select(F.col("doc_id").alias("id_b"),
                           F.col("sz").alias("sz_b")), "id_b")
        .withColumn(
            "est_jaccard",
            F.round(F.col("inter")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash_signatures(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash per doc: majority bit-vote over word hashes."""
    pre = df.select(
        F.col(id_col).alias("doc_id"),
        F.transform(
            F.split(F.col(text_col), " "), lambda w: F.xxhash64(w)
        ).alias("_wh"),
    )
    schema = T.StructType(
        [
            T.StructField("doc_id", pre.schema["doc_id"].dataType),
            T.StructField("simhash", T.LongType()),
        ]
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        # Arrow-native bit-plane votes: for each of the 64 bits, one
        # vectorized extract over the whole flat buffer + one
        # ``np.add.reduceat`` per-row sum — no per-row Python, and memory
        # stays O(flat) instead of the O(flat × 64) of a bits matrix.
        import pyarrow as pa

        from bloomine_spark.functions.kgrams import token_batch_from_arrow

        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            batch = token_batch_from_arrow(rb, "_wh")
            out = np.zeros(n, dtype=np.uint64)
            kidx = np.flatnonzero(batch.lens > 0)
            if len(kidx):
                lens = batch.lens[kidx]
                flat = batch.flat  # kept-row segments are contiguous
                nk = len(kidx)
                starts = np.zeros(nk + 1, dtype=np.int64)
                np.cumsum(lens, out=starts[1:])
                sh = np.zeros(nk, dtype=np.uint64)
                # cache-blocked + zero-alloc (see minhash kernel): each
                # row-group's flat segment stays L2-resident across all 64
                # bit planes, extracted in ONE reused scratch buffer
                ch = 1 << 16
                buf = np.empty(
                    min(int(starts[-1]), max(ch, int(lens.max()))),
                    dtype=np.uint64,
                )
                r0 = 0
                while r0 < nk:
                    r1 = int(
                        np.searchsorted(starts, starts[r0] + ch, "right")
                    ) - 1
                    r1 = min(max(r1, r0 + 1), nk)
                    seg = flat[starts[r0] : starts[r1]]
                    if len(buf) < len(seg):
                        buf = np.empty(len(seg), dtype=np.uint64)
                    bu = buf[: len(seg)]
                    off = starts[r0:r1] - starts[r0]
                    seg_lens = lens[r0:r1]
                    for b in range(64):
                        np.right_shift(seg, np.uint64(b), out=bu)
                        np.bitwise_and(bu, np.uint64(1), out=bu)
                        votes = np.add.reduceat(bu, off)
                        sh[r0:r1] |= np.where(
                            votes * np.uint64(2) >= seg_lens.astype(np.uint64),
                            np.uint64(1) << np.uint64(b),
                            np.uint64(0),
                        )
                    r0 = r1
                out[kidx] = sh
            doc = rb.column(rb.schema.get_field_index("doc_id"))
            yield pa.RecordBatch.from_arrays(
                [doc, pa.array(out.view(np.int64))], ["doc_id", "simhash"]
            )

    return pre.mapInArrow(kernel, schema=schema)


def hamming_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    sig_col: str = "simhash",
    max_hamming: int = 3,
) -> DataFrame:
    """Pairs with hamming(64-bit signature) ≤ d over ANY signature
    relation (SimHash text sketches or any 64-bit hash) via chunk
    banding — the signature-agnostic half of :func:`simhash_duplicates`.

    Pigeonhole: split 64 bits into d+1 chunks; any pair within hamming d
    shares ≥1 exact chunk → equi-join on (chunk_idx, chunk_value), then
    verify the true hamming distance JVM-side (``bit_count(xor)``).
    No n² scan; the join carries only (id, signature).
    """
    chunks = max_hamming + 1
    width = 64 // chunks
    # chunk expressions reference the SOURCE column, never the same-select
    # alias: a lateral alias inside Generate (explode) is an internal
    # error in Spark's analyzer when sig_col != "simhash"
    sc = F.col(sig_col)
    banded = sig.select(
        F.col(id_col).alias("doc_id"),
        sc.alias("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(sc, i * width)
                        .bitwiseAND(F.lit((1 << width) - 1))
                        .alias("val"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("c"),
    ).select("doc_id", "simhash", "c.chunk", "c.val")
    a, b = banded.alias("a"), banded.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.chunk") == F.col("b.chunk"))
            & (F.col("a.val") == F.col("b.val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 3,
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) ≤ d: text SimHash
    signatures fed through the signature-agnostic
    :func:`hamming_pairs` banding."""
    return hamming_pairs(
        simhash_signatures(df, text_col, id_col),
        id_col="doc_id",
        sig_col="simhash",
        max_hamming=max_hamming,
    )


# ---------------------------------------------------------------------------
# embedding near-dup
# ---------------------------------------------------------------------------

def embedding_near_dup_exact(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_broadcast_rows: int = 500_000,
) -> DataFrame:
    """Exact cosine≥t pairs via blockwise matmul against a broadcast matrix.

    Correct brute-force baseline: O(n²) similarity work but distributed as
    (n/P)·n per task with no shuffle; use the LSH variant for corpora where
    the broadcast side no longer fits (see embedding_near_dup_lsh).

    Guarded: the whole table is collected to the driver for the broadcast,
    so above ``max_broadcast_rows`` this refuses with a pointer to the LSH
    path instead of silently OOM-ing a real corpus through the driver.
    """
    n_rows = emb.count()
    if n_rows > max_broadcast_rows:
        raise ValueError(
            f"embedding_near_dup_exact is the broadcast brute-force baseline "
            f"({n_rows} rows > max_broadcast_rows={max_broadcast_rows}); use "
            f"embedding_near_dup_lsh for corpora of this size"
        )
    rows = emb.select(id_col, vec_col).collect()
    ids = np.array([r[id_col] for r in rows])
    mat = np.array([r[vec_col] for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast((ids, mat))

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cosine", T.DoubleType()),
        ]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        all_ids, all_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            ids_l = pdf[id_col].to_numpy()
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            sims = m @ all_mat.T
            li, gj = np.nonzero(sims >= threshold)
            keep = ids_l[li] < all_ids[gj]
            yield pd.DataFrame(
                {
                    "id_a": ids_l[li][keep],
                    "id_b": all_ids[gj][keep],
                    "cosine": np.round(sims[li, gj][keep], 6),
                }
            )

    return emb.mapInPandas(kernel, schema=schema)


def embedding_near_dup_lsh(
    emb: DataFrame,
    threshold: float = 0.9,
    n_planes: int = 16,
    n_tables: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 13,
    dim: int | None = None,
) -> DataFrame:
    """Scale path: random-hyperplane LSH → bucket equi-join → exact verify.

    cosine-similar vectors agree on sign bits w.p. 1−θ/π per plane; n_tables
    independent tables bound the miss rate. Only bucket-colliding pairs are
    verified, so no n² stage exists anywhere.
    """
    if dim is None:
        dim = len(emb.select(vec_col).head()[0])
    rng = np.random.default_rng(seed)
    planes = rng.normal(size=(n_tables, n_planes, dim))
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(planes)

    sig_schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("table", T.IntegerType()),
            T.StructField("bucket", T.LongType()),
            T.StructField("vec", T.ArrayType(T.DoubleType())),
        ]
    )

    def sig_kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pl = bc.value
        pow2 = (1 << np.arange(n_planes, dtype=np.int64))
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            norm = m / np.linalg.norm(m, axis=1, keepdims=True)
            frames = []
            for t in range(n_tables):
                bits = (norm @ pl[t].T) > 0
                buckets = (bits * pow2[None, :]).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {
                            "vec_id": pdf[id_col].to_numpy(),
                            "table": t,
                            "bucket": buckets,
                            "vec": list(norm),
                        }
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    sig = emb.mapInPandas(sig_kernel, schema=sig_schema)
    a, b = sig.alias("a"), sig.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.table") == F.col("b.table"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.col("a.vec").alias("va"),
            F.col("b.vec").alias("vb"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    cosine = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    return (
        cand.withColumn("cosine", F.round(cosine, 6))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


# ---------------------------------------------------------------------------
# Train/test contamination screening (decontamination)
# ---------------------------------------------------------------------------

def contamination_screen(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    fp: float = 1e-4,
) -> DataFrame:
    """Training docs that share at least one word ``n``-gram with an
    evaluation corpus — the GPT-3-style decontamination check (Brown et
    al. 2020, appendix C: 13-gram overlap), the cross-corpus sibling of
    ``ngram_jaccard_pairs``'s within-corpus near-dup.

    Returns ``(doc_id, n_shared_ngrams)`` for contaminated train docs,
    where ``n_shared_ngrams`` counts the doc's DISTINCT shingles found in
    the test set.

    Plan (scale path): the test side collapses to its distinct shingle set
    (small — eval corpora are orders of magnitude smaller than training
    corpora), a Bloom filter built from it prefilters the exploded train
    shingles INSIDE the scan stage (``bloom_semi_join``), so the only
    wide exchange carries the ~0 fraction of train shingles that collide;
    the exact semi-join then removes Bloom false positives. No train-side
    shingle ever shuffles unless it (probably) appears in the test set.

    Skew note: a high-frequency eval shingle (a stopword n-gram) is a hot
    join key. The LEFT SEMI join cannot multiply rows (each train shingle
    emits at most once), so the exposure is one oversized shuffle
    partition, which AQE's skew-join split handles
    (spark.sql.adaptive.skewJoin.enabled, on by default) — unlike
    ``ngram_jaccard_pairs`` there is no f² pair blow-up to cap, and a hot
    shingle is semantically a real contamination signal, not noise.
    """
    tr = (
        train.select(
            F.col(id_col).alias("doc_id"),
            # _word_shingles_expr is array_distinct, so per-doc shingles
            # are already unique and the final count(*) is a distinct count
            F.explode(_word_shingles_expr(text_col, n)).alias("g"),
        )
        .filter(F.col("g") != "")
    )
    te = (
        test.select(F.explode(_word_shingles_expr(text_col, n)).alias("g"))
        .filter(F.col("g") != "")
        .distinct()
    )
    from bloomine_spark.operators.bloomjoin import bloom_semi_join

    shared = bloom_semi_join(tr, te, "g", fp=fp)
    return shared.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_shared_ngrams")
    )


def decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    fp: float = 1e-4,
) -> DataFrame:
    """Drop contaminated docs from ``train``: anti-join against
    ``contamination_screen`` on ``id_col`` (all train columns kept)."""
    hits = contamination_screen(train, test, text_col, id_col, n, fp)
    return train.join(
        hits.withColumnRenamed("doc_id", "_cid"),
        F.col(id_col).cast("string") == F.col("_cid").cast("string"),
        "left_anti",
    )


def gpt3_window_decontaminate(
    train: DataFrame,
    test: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 13,
    window: int = 200,
    min_piece_chars: int = 200,
    max_pieces: int = 10,
    fp: float = 1e-4,
    materialize_islands: bool = True,
) -> DataFrame:
    """Surgical decontamination, GPT-3 style (Brown et al. 2020,
    Appendix C): instead of dropping a whole training document that
    shares an ``n``-gram with the eval corpus (``decontaminate``),
    remove a ``window``-character span around EACH colliding ``n``-gram
    occurrence, split the document at the removed spans, discard pieces
    shorter than ``min_piece_chars``, and drop documents that shatter
    into more than ``max_pieces`` surviving pieces (heavily
    contaminated). Paper defaults: 13-grams, 200-character windows,
    200-character minimum pieces, 10-piece cap.

    Returns one row per surviving piece:
    ``(doc_id, piece_idx, text, n_chars, contaminated)`` — uncontaminated
    docs pass through whole as ``piece_idx = 0`` with
    ``contaminated = false``.

    Word semantics match the repetition/dup-span family: words are the
    raw single-space split, so an n-gram IS the exact substring and its
    char span [start, start+len) is exact; removal spans are clipped to
    the document and merged positionally (gaps-and-islands) before the
    complement is cut, so overlapping collisions never double-cut.

    Scale shape: gram TEXT never shuffles — the train side reduces to
    (doc_id, start, gram_digest) via one window pass over per-word md5
    digests (gram id = md5 of joined word digests, same convention as
    ``gopher_repetition``, so a DuckDB oracle rebuilds identical ids);
    the eval side collapses to its distinct digest set and a Bloom built
    from it prefilters train grams INSIDE the scan stage
    (``bloom_semi_join``), so the only wide exchange carries (probable)
    collisions. Island merge, piece cutting, and the substring rebuild
    are narrow per-doc windows plus ONE doc_id-keyed join back to the
    text."""
    if n < 1:
        raise ValueError("n must be >= 1")
    base = train.select(
        F.col(id_col).alias("doc_id"),
        F.col(text_col).alias("_t"),
        F.length(text_col).cast("long").alias("_len"),
    )

    from bloomine_spark.functions.grams import word_gram_digests

    # grams never span documents (the helper windows by doc_id); the
    # eval side gets synthetic ids — gram identity is id-independent
    grams = word_gram_digests(base, [n], "_t", with_length=True).drop("n")
    te = word_gram_digests(
        test.select(
            F.monotonically_increasing_id().alias("doc_id"),
            F.col(text_col).alias("_tt"),
        ),
        [n], "_tt",
    ).select("gh").distinct()

    from bloomine_spark.operators.bloomjoin import bloom_semi_join

    hits = bloom_semi_join(grams, te, "gh", fp=fp).join(
        base.select("doc_id", "_len"), "doc_id"
    ).select(
        "doc_id",
        F.greatest(F.col("start") - window, F.lit(0).cast("long"))
        .alias("s"),
        F.least(F.col("start") + F.col("gl") + window, F.col("_len"))
        .alias("e"),
    )

    # merge overlapping/touching removal spans (gaps-and-islands)
    wisl = Window.partitionBy("doc_id").orderBy("s", "e")
    prev_end = F.max("e").over(
        wisl.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        hits.withColumn(
            "_ni", (F.col("s") > F.coalesce(prev_end, F.lit(-1))).cast("long")
        )
        .withColumn("_isl", F.sum("_ni").over(wisl))
        .groupBy("doc_id", "_isl")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    if materialize_islands:
        # materialized ONCE: three consumers (piece starts, the tail
        # piece, the untouched anti-join) prune this aggregate
        # differently, so neither plan- nor AQE-level exchange reuse
        # fires and each re-derived the ENTIRE gram-digest window pass
        # upstream (plan audit: 3× the Window chain, ~3× the corpus
        # scan). The island relation is collision-scale (contaminated
        # docs only), so the checkpoint itself is tiny. The flag exists
        # so plan audits can still see the full un-truncated shape
        # (Bloom probe → exact semi-join) in one lazy plan.
        islands = islands.localCheckpoint(eager=True)

    # complement: piece before each island + the tail piece after the last
    word = Window.partitionBy("doc_id").orderBy("s")
    before = islands.select(
        "doc_id",
        F.coalesce(F.lag("e").over(word), F.lit(0).cast("long"))
        .alias("ps"),
        F.col("s").alias("pe"),
    )
    tail = islands.groupBy("doc_id").agg(F.max("e").alias("ps")).join(
        base.select("doc_id", F.col("_len").alias("pe")), "doc_id"
    ).select("doc_id", "ps", "pe")
    # pe > ps guards the min_piece_chars=0 boundary: an island touching
    # char 0 (or the doc end) yields an empty complement slot, which is
    # not a piece — the replay semantics never emit length-0 text
    pieces = (
        before.unionByName(tail)
        .filter(
            (F.col("pe") > F.col("ps"))
            & (F.col("pe") - F.col("ps") >= min_piece_chars)
        )
        .join(base.select("doc_id", "_t"), "doc_id")
        .select(
            "doc_id", "ps",
            F.substring(
                F.col("_t"), (F.col("ps") + 1).cast("int"),
                (F.col("pe") - F.col("ps")).cast("int"),
            ).alias("text"),
            (F.col("pe") - F.col("ps")).cast("long").alias("n_chars"),
        )
    )
    wn = Window.partitionBy("doc_id")
    contaminated = (
        pieces.withColumn("_np", F.count("*").over(wn))
        .filter(F.col("_np") <= max_pieces)
        .withColumn(
            "piece_idx",
            (F.row_number().over(wn.orderBy("ps")) - 1).cast("long"),
        )
        .select(
            "doc_id", "piece_idx", "text", "n_chars",
            F.lit(True).alias("contaminated"),
        )
    )
    untouched = (
        base.join(islands.select("doc_id").distinct(), "doc_id",
                  "left_anti")
        .select(
            "doc_id",
            F.lit(0).cast("long").alias("piece_idx"),
            F.col("_t").alias("text"),
            F.col("_len").alias("n_chars"),
            F.lit(False).alias("contaminated"),
        )
    )
    return contaminated.unionByName(untouched)


# ---------------------------------------------------------------------------
# pair → cluster → canonical survivor (connected components)
# ---------------------------------------------------------------------------

def _large_star(e: DataFrame) -> DataFrame:
    """Large-star step of the alternating connected-components algorithm
    (Kiveris et al., "Connected Components in MapReduce and Beyond", SoCC
    2014 — public algorithm, original implementation): every node links
    each STRICTLY LARGER neighbor to the minimum of its neighborhood
    (including itself). One narrow (node, min-label) aggregation plus an
    equi-join per step — no adjacency lists are ever materialized, so a
    hub node of any degree costs degree rows, not degree² bytes."""
    sym = e.union(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    mins = sym.groupBy("src").agg(F.min("dst").alias("_mn")).select(
        "src", F.least("_mn", "src").alias("m")
    )
    return (
        sym.join(mins, "src")
        .filter(F.col("dst") > F.col("src"))
        .select(F.col("dst").alias("src"), F.col("m").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        # no distinct here: the consumer (_small_star) is duplicate-
        # insensitive — its groupBy(min) aggregations ignore multiplicity
        # and its own trailing distinct dedups the round's output — so
        # the exchange+dedup this operator used to pay per round bought
        # nothing (duplicates are bounded by the 2|E| symmetric rows)
    )


def _small_star(e: DataFrame) -> DataFrame:
    """Small-star step: orient every edge large→small, then link each node
    and all of its smaller neighbors to the minimum of that set."""
    oriented = e.select(
        F.greatest("src", "dst").alias("src"),
        F.least("src", "dst").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    mins = oriented.groupBy("src").agg(F.min("dst").alias("m"))
    relink = oriented.join(mins, "src").select(
        F.col("dst").alias("src"), F.col("m").alias("dst")
    )
    self_link = mins.select("src", F.col("m").alias("dst"))
    return (
        relink.union(self_link)
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )


def connected_components(
    pairs: DataFrame,
    src_col: str = "id_a",
    dst_col: str = "id_b",
    max_iter: int = 40,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components of an undirected pair graph, pure DataFrame
    ops — returns (id, component) with ``component`` = the MINIMUM node id
    of the component, one row per non-isolated node.

    Alternates large-star/small-star until the edge set reaches a
    fixpoint; the alternating algorithm converges in O(log n) rounds even
    on path graphs (pinned in tests), and each round's shuffle is the
    narrow (node, label) edge list itself — never an adjacency list or a
    frontier expansion — which is the shape that survives a 100 TB pair
    graph. Measured rounds track log2(diameter)+2 (BENCH/CC_SCALE.md: a
    200k-node path closes in 19 rounds), so max_iter=40 covers any
    component a real near-dup graph produces (a diameter past 2^19 would
    mean a 500k-doc chain of pairwise-similar-but-transitively-different
    docs). Fixpoint detection is a (count, hash-sum) checksum: two bytes-
    identical edge sets in a row end the loop without a subtract join.
    Each round is ``localCheckpoint``-ed to truncate the iterative plan's
    lineage (on a real cluster point ``spark.sparkContext.setCheckpointDir``
    at durable storage and swap to ``checkpoint``; the logical plan
    otherwise doubles per round). Pass a dict as ``stats`` to receive
    {"rounds": <rounds to fixpoint>} back (scale evidence: BENCH/cc_scale.py).
    """
    e = (
        pairs.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
        # materialize the input pair graph ONCE before round 1:
        # _large_star references its input through a union with its own
        # reversal and feeds two consumers, so an uncheckpointed edge set
        # re-evaluates the (often expensive) pair-generation plan up to
        # 4x in the first round — for er_canonical/soft_dedup the pair
        # generator IS the dominant cost of the whole query
        .localCheckpoint(eager=True)
    )
    prev_sum: tuple | None = None
    rounds = 0
    for _ in range(max_iter):
        rounds += 1
        e = _small_star(_large_star(e)).localCheckpoint(eager=True)
        # XOR-fold the edge hashes: order-insensitive like SUM but cannot
        # overflow under ANSI mode (the edge set is distinct, so XOR's
        # pair-cancellation property is moot)
        chk = e.agg(
            F.count("*").alias("n"),
            F.coalesce(
                F.expr("bit_xor(xxhash64(src, dst))"), F.lit(0)
            ).alias("h"),
        ).head()
        cur = (chk["n"], chk["h"])
        if cur == prev_sum:
            break
        prev_sum = cur
    else:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds"
        )
    if stats is not None:
        stats["rounds"] = rounds
    # fixpoint is a star forest: every non-root points at its component
    # minimum; roots appear only on the dst side
    roots = e.select(F.col("dst").alias("id"), F.col("dst").alias("component"))
    members = e.select(F.col("src").alias("id"), F.col("dst").alias("component"))
    return members.union(roots).distinct()


def dedup_groups(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    quality_col: str | None = None,
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """Resolve near-dup PAIRS into groups and pick one survivor per group —
    the step every real corpus dedup executes after LSH/Jaccard pair
    generation (pairs alone can't be acted on: A~B, B~C must drop two of
    {A,B,C}, not one of each pair).

    Returns one row per ``df`` row: (id, group_id, group_size, keep).
    ``group_id`` is the component's minimum member id (singletons: own id),
    ``keep`` marks the canonical survivor — the max-``quality_col`` member
    (ties → min id) when given, else the min-id member; singletons always
    keep. The ranking window runs ONLY over the duplicate subgraph
    (components have ≥2 members by construction), so at corpus scale the
    expensive part is proportional to the dup rate, not the corpus; the
    final join back to ``df`` is a narrow left join on id.
    """
    cc = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    sel = [F.col(id_col).alias("_id")] + (
        [F.col(quality_col).alias("_q")] if quality_col else []
    )
    members = cc.join(
        df.select(*sel), cc["id"] == F.col("_id"), "inner"
    ).drop("_id")
    order = (
        [F.desc("_q"), F.asc("id")] if quality_col else [F.asc("id")]
    )
    w = Window.partitionBy("component").orderBy(*order)
    ranked = (
        members.withColumn("_rn", F.row_number().over(w))
        .withColumn(
            "group_size", F.count("*").over(Window.partitionBy("component"))
        )
        .select(
            F.col("id").alias("_gid"),
            F.col("component").alias("_grp"),
            "group_size",
            (F.col("_rn") == 1).alias("_keep"),
        )
    )
    return (
        df.select(F.col(id_col))
        .join(ranked, F.col(id_col) == F.col("_gid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_grp"), F.col(id_col)).alias("group_id"),
            F.coalesce(F.col("group_size"), F.lit(1)).cast("long").alias(
                "group_size"
            ),
            F.coalesce(F.col("_keep"), F.lit(True)).alias("keep"),
        )
    )


def soft_dedup_weights(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src_col: str = "id_a",
    dst_col: str = "id_b",
) -> DataFrame:
    """SoftDeDup (He et al. 2024, "SoftDedup: an Efficient Data
    Reweighting Method for Speeding Up Language Model Pre-training"):
    instead of DROPPING near-duplicates, keep every document and assign
    it a sampling weight inversely proportional to its *commonness* —
    here the size of its near-dup group — renormalized so total
    sampling mass is conserved (Σ weight = N).

    Returns one row per ``df`` row: (id, commonness, weight) with
    ``commonness`` = near-dup group size (1 for documents in no pair)
    and ``weight`` = (1/commonness) · N / G where G is the number of
    distinct groups. The normalizer is EXACT integer arithmetic — each
    size-c group contributes c·(1/c) = 1 to Σᵢ 1/cᵢ, so Σᵢ 1/cᵢ = G,
    the group count — which keeps the weights engine-portable (one
    float division per row, no order-dependent float sum).

    Plan shape at 100 TB: connected components over the pair graph
    (narrow (node,label) shuffles, rounds ~ log₂ diameter), one
    group-size aggregation proportional to the DUP subgraph only, a
    narrow left join back on id, and a 1-row scalar broadcast — the
    corpus itself is scanned once.
    """
    cc = connected_components(pairs, src_col=src_col, dst_col=dst_col)
    sizes = cc.groupBy("component").agg(F.count("*").alias("_csize"))
    member = cc.join(sizes, "component").select(
        F.col("id").alias("_mid"), "component", "_csize"
    )
    base = (
        df.select(F.col(id_col))
        .join(member, F.col(id_col) == F.col("_mid"), "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("_csize"), F.lit(1)).cast("long").alias(
                "commonness"
            ),
            F.coalesce(F.col("component"), F.col(id_col)).alias("_gid"),
        )
    )
    scalars = base.agg(
        F.count("*").alias("_n"),
        F.countDistinct("_gid").alias("_g"),
    )
    return (
        base.crossJoin(F.broadcast(scalars))
        .select(
            F.col(id_col),
            "commonness",
            (
                (F.col("_n").cast("double") / F.col("_g"))
                / F.col("commonness")
            ).alias("weight"),
        )
    )


# ---------------------------------------------------------------------------
# Cross-document duplicated-span detection (exact-substring dedup family)
# ---------------------------------------------------------------------------


def _dup_windows(
    docs: DataFrame,
    k: int,
    text_col: str,
    id_col: str,
    source_col: str | None,
):
    """Shared head for the duplicated-span family: the per-document token
    array plus every k-token window keyed by its md5 digest, and the
    corpus-wide occurrence count per digest.

    Returns (base, dups) where ``base`` is one row per doc
    (source?, doc_id, n_tok) and ``dups`` is one row per window whose
    digest occurs ≥2 times corpus-wide (source?, doc_id, s, h).

    Scale shape: the gram TEXT never shuffles — windows are reduced to a
    16-byte md5 digest before the count aggregate and the join back, so
    both shuffles are narrow (digest, id) relations. Duplicate counting
    is per-digest (an md5 collision would conflate two grams; at 128
    bits that is vanishing, and the DuckDB oracle hashes identically so
    the check is exact either way).
    """
    cols = [F.col(source_col).alias("source")] if source_col else []
    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    base = docs.select(
        *cols,
        F.col(id_col).alias("doc_id"),
        words.alias("_w"),
        F.size(words).cast("long").alias("n_tok"),
    )
    wins = (
        base.filter(F.col("n_tok") >= k)
        .select(
            *(["source"] if source_col else []),
            "doc_id",
            "_w",
            F.explode(
                F.sequence(F.lit(0).cast("long"), F.col("n_tok") - k)
            ).alias("s"),
        )
        .select(
            *(["source"] if source_col else []),
            "doc_id",
            "s",
            F.md5(
                F.concat_ws(
                    " ", F.slice("_w", (F.col("s") + 1).cast("int"), k)
                )
            ).alias("h"),
        )
    )
    counts = wins.groupBy("h").agg(F.count("*").cast("long").alias("c"))
    dups = wins.join(counts.filter(F.col("c") > 1), "h")
    return base.drop("_w"), dups


def dup_span_coverage(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-document duplicated-span coverage — the window-granularity form
    of exact-substring dedup (Lee et al. 2022, "Deduplicating Training
    Data Makes Language Models Better": ExactSubstr with minimum match
    length k, realized as a hash-groupBy over k-token windows instead of
    a monolithic suffix array, which is the form that distributes).

    A token is *duplicated* iff it lies inside at least one k-token
    window whose content occurs ≥2 times anywhere in the corpus
    (including twice in the same document). Overlapping duplicated
    windows are merged into islands (gaps-and-islands over start
    positions) before counting, so every token is counted once.

    Returns one row per document: (source, doc_id, n_tok, dup_tok,
    dup_frac) with dup_frac = dup_tok / n_tok rounded to 1e-6 (0.0 for
    empty docs).

    Scale shape: one narrow digest-count shuffle + one digest join (see
    ``_dup_windows``); the island pass is a per-document window over the
    doc's own duplicated starts only — bounded by windows-per-doc, never
    corpus-wide."""
    base, dups = _dup_windows(docs, k, text_col, id_col, source_col)
    wdoc = Window.partitionBy("doc_id").orderBy("s")
    prev_end = F.max(F.col("s") + k).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = (
        dups.withColumn(
            "_ni",
            (F.col("s") > F.coalesce(prev_end, F.lit(-1))).cast("long"),
        )
        .withColumn("_isl", F.sum("_ni").over(wdoc))
        .groupBy("doc_id", "_isl")
        .agg((F.max(F.col("s") + k) - F.min("s")).alias("_cov"))
        .groupBy("doc_id")
        .agg(F.sum("_cov").cast("long").alias("_dup"))
    )
    return base.join(islands, "doc_id", "left").select(
        "source",
        "doc_id",
        "n_tok",
        F.coalesce(F.col("_dup"), F.lit(0)).cast("long").alias("dup_tok"),
        F.round(
            F.coalesce(F.col("_dup"), F.lit(0))
            / F.greatest(F.col("n_tok"), F.lit(1)),
            6,
        ).alias("dup_frac"),
    )


def dup_span_coverage_per_source(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Per-source duplicated-span audit — the report a corpus-dedup run
    logs before deciding what to trim: token volume, duplicated-token
    volume, the duplicated fraction, and how many documents are
    ≥half-duplicated (the usual drop-outright candidates; the threshold
    test is the integer cross-multiplication 2·dup_tok ≥ n_tok, no float
    compare). All counts are exact integers; the one ratio is a final
    rounded division, so the output is engine-portable and hash-exact."""
    per_doc = dup_span_coverage(docs, k, text_col, id_col, source_col)
    return per_doc.groupBy("source").agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_tok").cast("long").alias("n_tok"),
        F.sum("dup_tok").cast("long").alias("dup_tok"),
        F.round(F.sum("dup_tok") / F.sum("n_tok"), 6).alias("dup_frac"),
        F.sum(
            ((F.col("dup_tok") * 2 >= F.col("n_tok"))
             & (F.col("dup_tok") > 0)).cast("long")
        ).cast("long").alias("n_docs_half_dup"),
        F.sum((F.col("dup_tok") > 0).cast("long")).cast("long")
        .alias("n_docs_any_dup"),
    )


def trim_dup_spans(
    docs: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep: str = "first",
) -> DataFrame:
    """Remove cross-corpus duplicated spans from document text (the
    surgical alternative to dropping whole near-dup docs — Lee et al.
    2022 §3 ExactSubstr semantics at window granularity).

    ``keep="first"``: for every duplicated k-window digest, the globally
    first occurrence (min (doc_id, start), a total order) is canonical
    and its tokens are protected; tokens covered only by non-canonical
    duplicated windows are deleted. Every duplicated gram therefore
    survives at least once in the corpus. ``keep="none"`` deletes every
    duplicated token everywhere (the aggressive form).

    Returns (doc_id, text, n_tok, n_removed) with text rebuilt from the
    surviving tokens in order.

    Scale shape: canonical selection is a min-struct window per digest
    (narrow); position masks are distinct (doc_id, pos) pairs — integer
    keys; the rebuild is one per-doc sort_array over surviving tokens.
    """
    if keep not in ("first", "none"):
        raise ValueError("keep must be 'first' or 'none'")
    base, dups = _dup_windows(docs, k, text_col, id_col, None)

    def positions(df):
        return df.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("s"), F.col("s") + k - 1)
            ).alias("pos"),
        ).distinct()

    if keep == "first":
        wh = Window.partitionBy("h")
        flagged = dups.withColumn(
            "_canon",
            F.min(F.struct("doc_id", "s")).over(wh)
            == F.struct("doc_id", "s"),
        )
        removed = positions(flagged.filter(~F.col("_canon")))
        protected = positions(flagged.filter(F.col("_canon")))
        removed = removed.join(protected, ["doc_id", "pos"], "left_anti")
    else:
        removed = positions(dups)

    words = F.filter(
        F.split(F.col(text_col), " "), lambda x: x != F.lit("")
    )
    tok = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(words).alias("pos", "t"),
    ).withColumn("pos", F.col("pos").cast("long"))
    kept = tok.join(removed, ["doc_id", "pos"], "left_anti")
    rebuilt = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("pos", "t"))),
                lambda x: x["t"],
            ),
        ).alias("text"),
        F.count("*").cast("long").alias("n_tok"),
    )
    base2 = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(words).cast("long").alias("_n0"),
    )
    return base2.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("text"), F.lit("")).alias("text"),
        F.coalesce(F.col("n_tok"), F.lit(0)).cast("long").alias("n_tok"),
        (F.col("_n0") - F.coalesce(F.col("n_tok"), F.lit(0)))
        .cast("long").alias("n_removed"),
    )


# ---------------------------------------------------------------------------
# SemDeDup — semantic deduplication over embeddings (Abbas et al. 2023)
# ---------------------------------------------------------------------------


def semdedup_sign_cells(
    emb: DataFrame,
    n_bits: int = 3,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Deterministic axis-sign cell assignment: cell = Σ 2^i·[v_i ≥ 0]
    over the first ``n_bits`` coordinates — a pure-codegen partitioner
    (2^n_bits cells) useful when no trained centroids exist and for
    engine-portable tests (any SQL engine reproduces it exactly). For
    the paper's k-means cells use :func:`semdedup_ivf_cells`.
    """
    cell = sum(
        (F.element_at(vec_col, i + 1) >= 0).cast("long") * (1 << i)
        for i in range(n_bits)
    )
    return emb.withColumn(cell_col, cell)


def semdedup_ivf_cells(
    emb: DataFrame,
    centroids: np.ndarray,
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Assign each vector to its nearest (max-cosine) centroid — the
    SemDeDup paper's cluster scoping, reusing the IVF centroid family
    (see operators/similarity.py:89 ``train_ivf_centroids``). Centroids
    ride as one broadcast matrix; assignment is a blockwise matmul per
    Arrow batch, no shuffle."""
    cent = np.asarray(centroids, dtype=np.float64)
    cent = cent / np.linalg.norm(cent, axis=1, keepdims=True)
    spark = emb.sparkSession
    bc = spark.sparkContext.broadcast(cent)
    schema = T.StructType(
        emb.schema.fields + [T.StructField(cell_col, T.LongType())]
    )

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            m = np.array(list(pdf[vec_col]), dtype=np.float64)
            m /= np.linalg.norm(m, axis=1, keepdims=True)
            pdf[cell_col] = (m @ c.T).argmax(axis=1).astype(np.int64)
            yield pdf

    return emb.mapInPandas(kernel, schema=schema)


def semdedup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    max_cell_rows: int = 200_000,
    block: int = 2048,
) -> DataFrame:
    """Within-cell cosine≥threshold pairs (id_a < id_b) — the SemDeDup
    candidate step. Vectors in different cells are never compared (the
    paper's deliberate approximation: semantic duplicates co-locate in
    embedding space, so a fine clustering loses almost no recall while
    reducing O(n²) to Σ|cell|²).

    Scale shape: one shuffle on ``cell_col`` groups each cell into a
    single Arrow frame; inside, a blockwise normalized matmul emits only
    the ≥threshold pairs. Each cell must fit in one task —
    ``max_cell_rows`` fails fast with a pointer to train MORE centroids
    (the paper runs k=50k on 600M embeddings ⇒ ~12k rows/cell) instead
    of letting one giant cell OOM an executor.
    """

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            return pd.DataFrame({"id_a": [], "id_b": []}).astype("int64")
        if n > max_cell_rows:
            raise ValueError(
                f"semdedup cell {pdf[cell_col].iloc[0]!r} has {n} rows "
                f"(> max_cell_rows={max_cell_rows}); train more centroids "
                f"so cells stay task-sized"
            )
        ids = pdf[id_col].to_numpy()
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        out_a, out_b = [], []
        for i0 in range(0, n, block):
            sims = m[i0 : i0 + block] @ m.T
            li, gj = np.nonzero(sims >= threshold)
            gi = li + i0
            keep = gi < gj  # strict upper triangle by position
            a, b = ids[gi[keep]], ids[gj[keep]]
            swap = a > b
            a2 = np.where(swap, b, a)
            b2 = np.where(swap, a, b)
            out_a.append(a2)
            out_b.append(b2)
        return pd.DataFrame(
            {
                "id_a": np.concatenate(out_a) if out_a else [],
                "id_b": np.concatenate(out_b) if out_b else [],
            }
        ).astype("int64")

    return emb.groupBy(cell_col).applyInPandas(kernel, schema=schema)


def semdedup_centroid_cos(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
) -> DataFrame:
    """Per-vector cosine to its cell's (normalized-mean) centroid —
    the paper's survivor criterion input: within each duplicate group
    SemDeDup KEEPS the example with the LOWEST centroid similarity
    (low-similarity examples carry the most marginal information)."""
    schema = T.StructType(
        [
            T.StructField(id_col, T.LongType()),
            T.StructField("cent_cos", T.DoubleType()),
        ]
    )

    def kernel(pdf: pd.DataFrame) -> pd.DataFrame:
        m = np.array(list(pdf[vec_col]), dtype=np.float64)
        m /= np.linalg.norm(m, axis=1, keepdims=True)
        c = m.mean(axis=0)
        c /= np.linalg.norm(c)
        return pd.DataFrame(
            {id_col: pdf[id_col].to_numpy(), "cent_cos": m @ c}
        )

    return emb.groupBy(cell_col).applyInPandas(kernel, schema=schema)


def semdedup(
    emb: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cell_col: str = "cell",
    keep: str = "min_id",
    max_cell_rows: int = 200_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic near-duplicate removal =
    cluster-scoped cosine pairs → transitive groups → one survivor per
    group. ``emb`` must already carry ``cell_col`` (from
    :func:`semdedup_ivf_cells` for paper-mode k-means cells or
    :func:`semdedup_sign_cells` for a deterministic partitioner).

    ``keep``: ``"min_id"`` keeps the smallest id per group (fully
    engine-portable); ``"centroid_far"`` keeps the member FARTHEST from
    its cell centroid (the paper's choice — it preserves the most
    marginal example of each semantic group), ties → min id.

    Returns one row per input row: (id, group_id, group_size, keep) à la
    :func:`dedup_groups`, which resolves the pair graph (components are
    found by alternating star rounds; ranking runs only over the dup
    subgraph, so cost tracks the dup rate, not the corpus).
    """
    pairs = semdedup_pairs(
        emb, threshold, id_col, vec_col, cell_col, max_cell_rows
    )
    if keep == "centroid_far":
        qual = semdedup_centroid_cos(emb, id_col, vec_col, cell_col)
        base = emb.select(id_col).join(qual, id_col).select(
            id_col, (-F.col("cent_cos")).alias("_semq")
        )
        return dedup_groups(base, pairs, id_col=id_col, quality_col="_semq")
    if keep != "min_id":
        raise ValueError(f"unknown keep policy {keep!r}")
    return dedup_groups(emb.select(id_col), pairs, id_col=id_col)


def line_dedup(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep: str = "first",
) -> DataFrame:
    """Corpus-level exact LINE deduplication (the RefinedWeb/FineWeb
    stage between line corrections and document dedup): a line that
    occurs verbatim in more than one place — headers, cookie notices,
    shared footers — is boilerplate by repetition, and every occurrence
    past the canonical first is removed. ``keep="first"`` protects the
    globally-first occurrence (min (id, line_no), the
    ``trim_dup_spans`` convention); ``keep="none"`` removes every
    occurrence of any repeated line. Empty lines are structural and
    never dedup.

    Plan shape: line text never rides the dedup shuffle — the
    occurrence window runs over the narrow (digest, id, pos) relation,
    the drop set joins back on (id, pos), and the rebuild is one
    grouped sort-by-position fold. Three exchanges total, each
    carrying O(lines) small rows; at corpus scale the digest exchange
    is the same shape as exact_duplicates' fingerprint shuffle.

    Returns (id, text, n_lines_removed), one row per input doc.
    """
    if keep not in ("first", "none"):
        raise ValueError(f"unknown keep policy {keep!r}")
    lines = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    marks = lines.filter(F.col("line") != "").select(
        id_col, "pos", F.md5(F.col("line")).alias("digest")
    )
    w = Window.partitionBy("digest").orderBy(F.col(id_col), F.col("pos"))
    occ = marks.withColumn("occ", F.row_number().over(w)).withColumn(
        "n_occ", F.count("*").over(Window.partitionBy("digest"))
    )
    if keep == "first":
        drops = occ.filter(F.col("occ") > 1).select(id_col, "pos")
    else:
        drops = occ.filter(F.col("n_occ") > 1).select(id_col, "pos")
    kept = lines.join(drops.withColumn("_drop", F.lit(True)),
                      [id_col, "pos"], "left")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_drop").isNull(),
                               F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda x: x["line"],
            ),
        ).alias("text"),
        F.sum(F.col("_drop").cast("long")).alias("_removed"),
    )
    return docs.select(id_col).join(rebuilt, id_col, "left").select(
        id_col,
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("_removed", F.lit(0)).cast("long").alias("n_lines_removed"),
    )


def line_df_boilerplate(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str | None = None,
    min_doc_freq: int | None = None,
    max_doc_frac: float | None = None,
) -> DataFrame:
    """Boilerplate-line removal by DOCUMENT FREQUENCY (the RefinedWeb/
    CCNet per-domain rule that :func:`line_dedup` is the exact-copy
    cousin of): a line occurring in too many DISTINCT documents —
    ``min_doc_freq`` absolute, and/or ``max_doc_frac`` as a fraction of
    the corpus — is navigation/footer boilerplate, and EVERY occurrence
    is removed (unlike line_dedup there is no canonical survivor: a
    line that appears on a third of a host's pages is template, not
    content). ``group_col`` scopes the frequencies (RefinedWeb counts
    per domain — a disclaimer ubiquitous on one host is boilerplate
    there even if globally rare). A line repeated inside ONE doc counts
    that doc once. Empty lines are structural and never counted.

    Plan shape: line text never rides a shuffle — per-doc distinct
    (scope, digest, id) rows feed one COUNT aggregate, doc totals per
    scope come from a broadcast-sized relation, and the drop set joins
    back on (id, pos). The digest exchange is the same shape as
    line_dedup's occurrence window at corpus scale.

    Returns (id[, group], text, n_lines_removed), one row per doc.
    """
    if min_doc_freq is None and max_doc_frac is None:
        raise ValueError("set min_doc_freq and/or max_doc_frac")
    gcols = [group_col] if group_col else []
    lines = docs.select(
        F.col(id_col), *gcols,
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "line"),
    )
    marks = lines.filter(F.col("line") != "").select(
        id_col, *gcols, "pos", F.md5(F.col("line")).alias("digest")
    )
    # df = distinct docs containing the digest, within scope
    df_rel = (
        marks.select(id_col, *gcols, "digest")
        .distinct()
        .groupBy(*gcols, "digest")
        .agg(F.count("*").alias("df"))
    )
    totals = docs.groupBy(*gcols).agg(
        F.countDistinct(id_col).alias("n_docs")
    )
    if gcols:
        joined = df_rel.join(F.broadcast(totals), gcols)
    else:
        joined = df_rel.crossJoin(F.broadcast(totals))
    cond = F.lit(False)
    if min_doc_freq is not None:
        cond = cond | (F.col("df") >= int(min_doc_freq))
    if max_doc_frac is not None:
        # df / n_docs > frac as df > frac * n_docs — ONE double multiply,
        # the exact expression the oracles interpolate (repr(frac)), so
        # boundary classes land identically on both engines
        cond = cond | (
            F.col("df") > F.lit(float(max_doc_frac)) * F.col("n_docs")
        )
    bad = joined.filter(cond).select(*gcols, "digest")
    drops = marks.join(bad, [*gcols, "digest"]).select(id_col, "pos")
    kept = lines.join(drops.withColumn("_drop", F.lit(True)),
                      [id_col, "pos"], "left")
    rebuilt = kept.groupBy(id_col).agg(
        F.concat_ws(
            "\n",
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.when(F.col("_drop").isNull(),
                               F.struct(F.col("pos"), F.col("line")))
                    )
                ),
                lambda x: x["line"],
            ),
        ).alias("text"),
        F.sum(F.col("_drop").cast("long")).alias("_removed"),
    )
    return docs.select(id_col, *gcols).join(rebuilt, id_col, "left").select(
        id_col, *gcols,
        F.coalesce("text", F.lit("")).alias("text"),
        F.coalesce("_removed", F.lit(0)).cast("long").alias("n_lines_removed"),
    )


# ---------------------------------------------------------------------------
# incremental dedup: screen a new batch against a persisted corpus index
# ---------------------------------------------------------------------------

def _dedup_index_manifest_sibling(path: str) -> str:
    """HDFS/S3 location of the manifest for an index at ``path``."""
    return path.rstrip("/") + ".DEDUP_INDEX.d"


def build_dedup_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    num_perm: int = 64,
    bands: int = 16,
) -> dict:
    """Persist the dedup state of a curated corpus so FUTURE batches can
    be screened against it without re-reading the corpus text — the
    incremental posture of a continuously-updated training set (a 100 TB
    corpus is deduped once; every ingest after that is a small batch vs
    this index):

    - ``fingerprints/``: one (fingerprint, canonical_id) row per
      distinct md5(text) — exact-dup membership, corpus-dedup-sized.
    - ``bands/``: (doc_id, band, bucket) MinHash band buckets — the
      narrow relation new batches equi-join.
    - ``signatures/``: (doc_id, signature) for estimator verification
      of band candidates.
    - ``_DEDUP_INDEX.json``: the shingle/permutation/banding parameters
      (a screen MUST replay them exactly; mismatch fails fast). Local
      write with the Hadoop-FS sibling fallback (the IVF centroids
      pattern — rebuilds at remote paths delete-then-write).

    Returns the manifest dict.
    """
    import json as _json
    import posixpath

    if num_perm % bands:
        raise ValueError("num_perm must be divisible by bands")
    r = num_perm // bands
    (
        df.select(F.md5(F.col(text_col)).alias("fingerprint"),
                  F.col(id_col))
        .groupBy("fingerprint")
        .agg(F.min(id_col).alias("canonical_id"))
        .write.mode("overwrite").parquet(path.rstrip("/") + "/fingerprints")
    )
    sig = minhash_signatures(df, text_col, id_col, n, num_perm)
    sig.write.mode("overwrite").parquet(path.rstrip("/") + "/signatures")
    spark = df.sparkSession
    banded = spark.read.parquet(path.rstrip("/") + "/signatures").select(
        "doc_id",
        _band_buckets_col(bands, r),
    ).select("doc_id", "bb.band", "bb.bucket")
    banded.write.mode("overwrite").parquet(path.rstrip("/") + "/bands")
    manifest = {
        "n": int(n), "num_perm": int(num_perm), "bands": int(bands),
        "version": 1,
    }
    mpath = posixpath.join(path, "_DEDUP_INDEX.json")
    sc = spark.sparkContext
    try:
        with open(mpath, "w") as fh:
            _json.dump(manifest, fh)
    except OSError:
        sibling = _dedup_index_manifest_sibling(path)
        jvm = sc._jvm
        hpath = jvm.org.apache.hadoop.fs.Path(sibling)
        fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
        if fs.exists(hpath):
            fs.delete(hpath, True)
        sc.parallelize([_json.dumps(manifest)], 1).saveAsTextFile(sibling)
    return manifest


def _read_dedup_manifest(spark, path: str) -> dict:
    import json as _json
    import os as _os

    try:
        with open(_os.path.join(path, "_DEDUP_INDEX.json")) as fh:
            return _json.loads(fh.read())
    except OSError:
        return _json.loads(
            "".join(
                spark.sparkContext.textFile(
                    _dedup_index_manifest_sibling(path)
                ).collect()
            )
        )


def screen_against_index(
    df: DataFrame,
    path: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    threshold: float | None = 0.7,
) -> DataFrame:
    """Screen a NEW batch against a :func:`build_dedup_index` corpus:
    one row per input doc — ``keep`` (no corpus match), ``reason``
    (``'exact'`` md5 identity beats ``'near'`` MinHash-estimate ≥
    ``threshold``; NULL when kept), ``matched_id`` (the corpus
    canonical for exact; the best-estimate/min-id corpus doc for near),
    ``est_jaccard`` (near only). ``threshold=None`` disables the near
    path (exact-only screen).

    Batch-internal duplicates are out of scope by design — dedup the
    batch with the existing operators first; this operator answers
    "is it already in the corpus".

    Note: the batch's signature relation is ``.cache()``d (it feeds
    both the band explode and the estimator join — same posture as
    ``minhash_lsh_duplicates``); a long-lived driver screening many
    ingests should ``spark.catalog.clearCache()`` between batches, or
    the cached blocks accumulate until storage eviction.

    Plan shape: the exact probe is one narrow (fingerprint, id)
    broadcast-or-shuffle join; the near probe explodes the BATCH into
    (id, band, bucket) and equi-joins the index's band relation (the
    corpus-scale side is never re-shingled, never re-read as text),
    candidates dedup as bare id pairs before the signature arrays
    attach. Docs shorter than the shingle width have no signature and
    cannot near-match (kernel drops them) — exact still applies.
    """
    spark = df.sparkSession
    manifest = _read_dedup_manifest(spark, path)
    n, num_perm, bands = (
        manifest["n"], manifest["num_perm"], manifest["bands"]
    )
    r = num_perm // bands
    base = path.rstrip("/")
    fps = spark.read.parquet(base + "/fingerprints")
    # the NEW batch is the small side by this operator's posture (the
    # index is the corpus-scale artifact): broadcast the batch
    # fingerprints into the index probe, and the (≤ batch-sized) match
    # relation into the left attach — explicit because session-level
    # auto-broadcast decisions are runtime-size-only now (r7)
    exact = (
        F.broadcast(
            df.select(F.col(id_col).alias("doc_id"),
                      F.md5(F.col(text_col)).alias("fingerprint"))
        )
        .join(fps, "fingerprint")
        .select("doc_id", F.col("canonical_id").alias("_ex_match"))
    )
    out = df.select(F.col(id_col).alias("doc_id")).join(
        F.broadcast(exact), "doc_id", "left"
    )
    if threshold is None:
        return out.select(
            "doc_id",
            F.col("_ex_match").isNull().alias("keep"),
            F.when(F.col("_ex_match").isNotNull(), F.lit("exact"))
            .alias("reason"),
            F.col("_ex_match").alias("matched_id"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
    sig_new = minhash_signatures(df, text_col, id_col, n, num_perm).cache()
    banded_new = sig_new.select(
        "doc_id",
        _band_buckets_col(bands, r),
    ).select("doc_id", "bb.band", "bb.bucket")
    idx_bands = spark.read.parquet(base + "/bands")
    cand = (
        banded_new.alias("a")
        .join(
            idx_bands.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .select(
            F.col("a.doc_id").alias("new_id"),
            F.col("b.doc_id").alias("corpus_id"),
        )
        .dropDuplicates(["new_id", "corpus_id"])
    )
    idx_sig = spark.read.parquet(base + "/signatures")
    est = F.aggregate(
        F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
        F.lit(0),
        lambda acc, v: acc + v,
    ) / F.lit(float(num_perm))
    near = (
        cand.join(
            sig_new.select(F.col("doc_id").alias("new_id"),
                           F.col("signature").alias("sig_a")), "new_id")
        .join(
            idx_sig.select(F.col("doc_id").alias("corpus_id"),
                           F.col("signature").alias("sig_b")), "corpus_id")
        .withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= F.lit(float(threshold)))
        # best match per new doc: highest estimate, min corpus id on
        # ties (rank window — type-agnostic over string or numeric ids)
        .withColumn(
            "_rn",
            F.row_number().over(
                Window.partitionBy("new_id").orderBy(
                    F.desc("est_jaccard"), F.col("corpus_id")
                )
            ),
        )
        .filter(F.col("_rn") == 1)
        .select(
            F.col("new_id").alias("doc_id"),
            F.col("est_jaccard").alias("_nr_est"),
            F.col("corpus_id").alias("_nr_match"),
        )
    )
    return (
        out.join(near, "doc_id", "left")
        .select(
            "doc_id",
            (F.col("_ex_match").isNull() & F.col("_nr_match").isNull())
            .alias("keep"),
            F.when(F.col("_ex_match").isNotNull(), F.lit("exact"))
            .when(F.col("_nr_match").isNotNull(), F.lit("near"))
            .alias("reason"),
            F.coalesce("_ex_match", "_nr_match").alias("matched_id"),
            F.when(F.col("_ex_match").isNull(), F.col("_nr_est"))
            .alias("est_jaccard"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Corpus snapshot churn report — diff two versions of a document
    set by id and content fingerprint: one row per id in either
    snapshot with ``status`` ∈ ``added`` (id only in new), ``removed``
    (only in old), ``changed`` (both, md5(text) differs), ``unchanged``.
    The audit a recurring curation run publishes between releases
    (dataset cards report exactly these counts).

    Plan: both sides reduce to narrow (id, fingerprint) relations
    before the full-outer join — text never rides the shuffle; one
    exchange per side.
    """
    # presence markers, not fingerprint nullity: md5(NULL) is NULL, so
    # a NULL-text doc present on both sides must still read as
    # changed/unchanged, never added/removed (review finding)
    o = old.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_fp_old"),
        F.lit(True).alias("_in_old"),
    )
    n = new.select(
        F.col(id_col).alias("id"),
        F.md5(F.col(text_col)).alias("_fp_new"),
        F.lit(True).alias("_in_new"),
    )
    return (
        o.join(n, "id", "full_outer")
        .select(
            F.col("id").alias(id_col),
            F.when(F.col("_in_old").isNull(), F.lit("added"))
            .when(F.col("_in_new").isNull(), F.lit("removed"))
            .when(
                F.col("_fp_old").eqNullSafe(F.col("_fp_new")),
                F.lit("unchanged"),
            )
            .otherwise(F.lit("changed"))
            .alias("status"),
        )
    )


def source_overlap_matrix(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    source_col: str = "source",
) -> DataFrame:
    """Cross-source contamination matrix: for every ordered source pair
    (a < b), how many distinct content fingerprints appear in BOTH —
    the provenance audit run before mixing corpora (a high overlap
    means one source republishes another and a mixture plan would
    double-count it). Diagonal rows carry each source's distinct
    fingerprint count for normalization.

    Plan: docs collapse to distinct (source, fingerprint) first (the
    only corpus-wide exchange), then the pair join runs fingerprint-to-
    fingerprint on the collapsed relation — |distinct| rows, never
    |docs|², and a fingerprint shared by k sources contributes exactly
    its C(k,2) pairs.
    """
    fp = (
        docs.select(
            F.col(source_col).alias("source"),
            F.md5(F.col(text_col)).alias("fp"),
        )
        .distinct()
    )
    diag = fp.groupBy("source").agg(F.count("*").alias("n_shared")).select(
        F.col("source").alias("source_a"),
        F.col("source").alias("source_b"),
        "n_shared",
    )
    pairs = (
        fp.alias("a")
        .join(
            fp.alias("b"),
            (F.col("a.fp") == F.col("b.fp"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("n_shared"))
    )
    return diag.unionByName(pairs)
