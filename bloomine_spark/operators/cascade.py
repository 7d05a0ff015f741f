"""Two-flank cascade, combined flank-score merge, MOI variant counting,
and polyfamily probe binning — the reference's orchestration layer
(/root/reference/bloomine/BloomineRunner.py, moi.py, polyfamily.py)
re-expressed as relational Spark plans.

The cascade itself is cardinality-aware staging: flank 2 screens only
flank-1 survivors (/root/reference/bloomine/BloomineRunner.py:76-94) — in
Spark that's simply chaining the second screen onto the first's hit set, so
AQE sees the shrunken input and re-plans downstream partitioning.

The flank-pair plan over a long score log — composite ids
(``flank_pair_targets``), combined flank log J1 (``flank_pair_scores``) and
probe argmax W1 (``best_flank_pairs``) — is defined here once, for
``combined_flank_scores``, ``multiscreen.polyfamily_onepass`` and the grid.
"""

from __future__ import annotations

from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.functions.kgrams import (
    FlatWindows,
    KgramIndex,
    exact_matches,
)
from bloomine_spark.operators.screen import prepare_target, screen_scores
from bloomine_spark.params import ScreenParams

# ---------------------------------------------------------------------------
# flank pairs: composite target ids and the combined flank log (J1)
# ---------------------------------------------------------------------------

_SEP = "\t"  # probe id / flank separator inside composite target ids
_PAIR_COLS = ["f1_score", "f1_rc_score", "f2_score", "f2_rc_score"]


def _read_keys(df: DataFrame) -> list[str]:
    """Read ids are only unique per sample: rows are keyed on (source,
    doc_id) when a ``source`` column exists, else on doc_id."""
    return ["source", "doc_id"] if "source" in df.columns else ["doc_id"]


def flank_pair_targets(probes: dict[str, tuple]) -> dict[str, Sequence[int]]:
    """{probe_id: (flank1, flank2)} → one screen target per flank, with the
    composite ids ``<probe_id>\\t1`` / ``<probe_id>\\t2`` that
    ``flank_pair_scores`` splits again."""
    return {
        f"{pid}{_SEP}{flank}": pair[flank - 1]
        for pid, pair in sorted(probes.items())
        for flank in (1, 2)
    }


def _flank_pair_best(flank: int):
    return F.greatest(F.col(f"f{flank}_score"), F.col(f"f{flank}_rc_score"))


def flank_pair_scores(
    scores: DataFrame, thresholds: dict[str, float]
) -> DataFrame:
    """The combined flank log (J1, reference bloomine/BloomineRunner.py:
    236-274) of every probe in a long score log whose
    ``target_id`` is a ``flank_pair_targets`` id; ``thresholds`` maps those
    ids to their flank's MST.

    One row per (read keys, probe_id): the best forward and RC score of
    each flank (the per-(read, rc, flank) max of BloomineRunner.py:230-233),
    threshold = max of the two flank thresholds, and pass = 1 iff each
    flank's best clears its own threshold (a missing flank fails). The
    thresholds reach the rows as one small (probe_id, thr1, thr2) table,
    broadcast-joined after the per-read aggregation."""
    keys = _read_keys(scores)
    parts = F.split(F.col("target_id"), _SEP)
    pids = sorted({tid.split(_SEP)[0] for tid in thresholds})
    thr = scores.sparkSession.createDataFrame(
        [
            (pid, *(float(thresholds[f"{pid}{_SEP}{f}"]) for f in (1, 2)))
            for pid in pids
        ],
        "probe_id string, thr1 double, thr2 double",
    )
    thr1, thr2 = F.col("thr1"), F.col("thr2")
    return (
        scores.groupBy(*keys, parts.getItem(0).alias("probe_id"))
        .agg(*(  # column f<n>[_rc]_score: max score of flank n, rc side
            F.max(F.when(
                (parts.getItem(1) == c[1]) & (F.col("rc") == ("_rc" in c)),
                F.col("score"),
            )).alias(c)
            for c in _PAIR_COLS
        ))
        .join(F.broadcast(thr), "probe_id", "left")
        .select(
            *keys, "probe_id", *_PAIR_COLS,
            F.greatest(thr1, thr2).alias("threshold"),
            F.when(
                (_flank_pair_best(1) >= thr1) & (_flank_pair_best(2) >= thr2),
                F.lit(1),
            ).otherwise(F.lit(0)).alias("pass"),
        )
    )


def combined_flank_scores(
    scores1: DataFrame, scores2: DataFrame, thr1: float, thr2: float
) -> DataFrame:
    """Merged log of two single-target flank screens
    (reference bloomine/BloomineRunner.py:236-274): the one-probe
    case of ``flank_pair_scores``. Columns (doc_id, f1_score, f1_rc_score,
    f2_score, f2_rc_score, threshold, pass)."""
    tagged = flank_pair_targets({"": (scores1, scores2)})
    s1, s2 = (
        s.select("doc_id", "rc", "score", F.lit(tid).alias("target_id"))
        for tid, s in tagged.items()
    )
    thresholds = dict(zip(tagged, (thr1, thr2)))
    return flank_pair_scores(s1.unionByName(s2), thresholds).drop("probe_id")


def cascade(
    df: DataFrame,
    flank1: Sequence[int],
    flank2: Sequence[int],
    params: ScreenParams = ScreenParams(),
    keep_tokens: bool = True,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Two-flank screen: flank-2 runs on flank-1 survivors only (J3 cascade
    semi-join). Returns (hits, scores1, scores2); ``hits`` passed BOTH
    flanks and carries tokens for MOI when keep_tokens."""
    s1 = screen_scores(df, flank1, params, keep_tokens=True).cache()
    survivors1 = s1.filter(F.col("sp_pass"))
    # flank-2 input: reconstruct a sequences-shaped frame from survivors
    seq_cols = [c for c in df.columns]
    f2_input = survivors1.select(*seq_cols)
    s2 = screen_scores(f2_input, flank2, params, keep_tokens=keep_tokens).cache()
    hits = s2.filter(F.col("sp_pass"))
    return hits, s1, s2


# ---------------------------------------------------------------------------
# MOI: isolate the inter-flank region and count variants
# ---------------------------------------------------------------------------

def _kascade_hashes(flank: np.ndarray, min_kmer: int):
    """[(k, flank_kgram_hashes, flank_kgram_matrix)] for k from len(flank)
    down to min_kmer — make_kascade (/root/reference/bloomine/moi.py:181-206)."""
    from bloomine_spark.functions.hashing import rolling_kgram_hash

    out = []
    for k in range(len(flank), min_kmer - 1, -1):
        n = len(flank) - k + 1
        h = rolling_kgram_hash(flank.astype(np.uint64), n, k)
        mat = np.lib.stride_tricks.sliding_window_view(flank, k)
        out.append((k, h, mat))
    return out


def _kmer_hit(
    kascade, read: np.ndarray, read_rev: np.ndarray, flank_flag: str,
    len_flank: int,
):
    """First (longest-k) anchor hit of the flank in the read, fwd preferred
    per kmer — kmer_hit (/root/reference/bloomine/moi.py:80-128). Returns
    (pos, orientation) or (None, None)."""
    from bloomine_spark.functions.hashing import rolling_kgram_hash

    for k, fh, fmat in kascade:
        nw = len(read) - k + 1
        if nw <= 0:
            continue
        rh = rolling_kgram_hash(read.astype(np.uint64), nw, k)
        ch = rolling_kgram_hash(read_rev.astype(np.uint64), nw, k)
        for i in range(len(fh)):
            fwd_idx = np.flatnonzero(rh == fh[i])
            hit_idx = None
            orientation = None
            for cand in fwd_idx:
                if (read[cand : cand + k] == fmat[i]).all():
                    hit_idx, orientation = int(cand), "+"
                    break
            if hit_idx is None:
                rev_idx = np.flatnonzero(ch == fh[i])
                for cand in rev_idx:
                    if (read_rev[cand : cand + k] == fmat[i]).all():
                        hit_idx, orientation = int(cand), "-"
                        break
            if hit_idx is None:
                continue
            if flank_flag == "head":
                return hit_idx + len_flank - i - 1, orientation
            return hit_idx - i, orientation
    return None, None


def _batch_flank_anchors(batch, kascade, flank_flag: str, len_flank: int,
                         complement_map=None):
    """Vectorized kmer_hit (reference bloomine/moi.py:80-128) over a whole
    TokenBatch: for k descending, every still-unresolved row's windows and
    reverse-complement windows are matched against the flank's k-kmers at
    once (``exact_matches``, token-confirmed); per row the winning anchor
    minimizes (kmer index i, fwd-before-rev, first position) — exactly the
    reference's loop order, which searches ``read`` and then
    ``read.reverse_complement()`` (moi.py:103) for the raw flank kmer.

    ``complement_map`` is the vocabulary permutation of the reverse
    complement; None (the token domain) makes it plain reversal. A '-'
    position indexes the reverse-complemented read.

    Returns (pos int64[n] with -1 = no hit, dir int8[n] with 1='+', 2='-').
    """
    n = batch.n_rows
    pos_out = np.full(n, -1, dtype=np.int64)
    dir_out = np.zeros(n, dtype=np.int8)
    unresolved = np.ones(n, dtype=bool)

    for k, fh, fmat in kascade:  # k descends
        if not unresolved.any():
            break
        index = KgramIndex.of_windows(fh, fmat)
        win = FlatWindows(batch, k, complement_map)
        cand = []
        for d, rev in ((1, False), (2, True)):
            pos, rows, ii = exact_matches(win, index, rev, unresolved)
            cand.append((rows, ii, np.full(len(rows), d, dtype=np.int8),
                         win.starts_of(pos, rows, rev)))
        rows, ii, dd, pp = (np.concatenate(c) for c in zip(*cand))
        if len(rows) == 0:
            continue
        # per row: lexmin (i, dir, pos) — reference loop order (i ascending,
        # fwd checked before rev, .index() = first occurrence)
        o2 = np.lexsort((pp, dd, ii, rows))
        rows_s = rows[o2]
        head_of_row = np.ones(len(rows_s), dtype=bool)
        head_of_row[1:] = rows_s[1:] != rows_s[:-1]
        sel = o2[head_of_row]
        r = rows[sel]
        if flank_flag == "head":
            pos_out[r] = pp[sel] + len_flank - ii[sel] - 1
        else:
            pos_out[r] = pp[sel] - ii[sel]
        dir_out[r] = dd[sel]
        unresolved[r] = False
    return pos_out, dir_out


def _extract_regions(batch, kas_head, kas_tail, len_head, len_tail,
                     comp=None):
    """Batched isolate_target core of ``extract_targets_multi``'s kernel,
    run once per probe's rows: anchor both flanks, resolve orientation and
    slice bounds with Python-slice semantics, and gather the inter-flank
    regions from the flat token buffer.

    ``comp`` is the complement map for DNA-style vocabularies (see
    ``extract_targets``); None is the token domain, where reverse
    orientation is plain reversal.

    Returns ``(rows, offs, vals, raw_h, raw_t, o_rev)`` — row indices into
    ``batch`` with both flanks found, list offsets (len(rows)+1, int32),
    gathered int32 token values, raw anchor positions and the
    reverse-orientation mask — or ``None`` when no row resolves.
    """
    hp, hd = _batch_flank_anchors(batch, kas_head, "head", len_head, comp)
    tp, td = _batch_flank_anchors(batch, kas_tail, "tail", len_tail, comp)
    ok = (hd != 0) & (td != 0) & (hd == td)
    rows = np.flatnonzero(ok)
    if len(rows) == 0:
        return None
    n = batch.lens[rows]
    raw_h, raw_t = hp[rows], tp[rows]
    o_rev = hd[rows] == 2
    # flanks found in swapped order → mirror both anchors (moi.py:56-59)
    flip = raw_h > raw_t
    hp2 = np.where(flip, n - raw_h + len_head + 1, raw_h)
    tp2 = np.where(flip, n - raw_t - len_tail, raw_t)
    slice_rev = hp2 > tp2
    a = np.where(slice_rev, tp2 + 1, hp2 + 1)
    b = np.where(slice_rev, hp2, tp2)
    # Python slice resolution (reference read_seq[start:end], moi.py:66-73):
    # partial flank matches at read edges produce anchors outside [0, n) — a
    # negative index wraps once from the end, then both bounds clamp to
    # [0, n], exactly like a Python slice. Without this the flat-buffer
    # gather below reads other rows' tokens (or runs off the buffer).
    a = np.clip(np.where(a < 0, a + n, a), 0, n)
    b = np.clip(np.where(b < 0, b + n, b), 0, n)
    out_len = np.maximum(b - a, 0)
    total = int(out_len.sum())
    # vectorized variable-length gather: element j of row r maps to a
    # flat-buffer index via (slice order, row orientation)
    rep = np.repeat(np.arange(len(rows)), out_len)
    csum = np.zeros(len(rows), dtype=np.int64)
    np.cumsum(out_len[:-1], out=csum[1:])
    within = np.arange(total, dtype=np.int64) - np.repeat(csum, out_len)
    j = np.where(slice_rev[rep], b[rep] - 1 - within, a[rep] + within)
    j = np.where(o_rev[rep], n[rep] - 1 - j, j)
    vals = batch.flat[batch.offsets[rows][rep] + j].view(np.int64)
    if comp is not None and len(vals):
        # reference value semantics (moi.py:64-74): '-' reads are worked on
        # as revcomp(read) (one complement) and swapped-flank slices are
        # reverse-complemented again — net complement iff exactly one holds
        flip = np.logical_xor(o_rev[rep], slice_rev[rep])
        vals = np.where(flip, comp[vals], vals)
    vals = vals.astype(np.int32)
    offs = np.zeros(len(rows) + 1, dtype=np.int32)
    np.cumsum(out_len, out=offs[1:])
    return rows, offs, vals, raw_h, raw_t, o_rev


def extract_targets(
    hits: DataFrame,
    head_flank: Sequence[int],
    tail_flank: Sequence[int],
    min_kmer: int = 11,
    tokens_col: str = "tokens",
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Isolate the inter-flank region per hit read — isolate_target
    (/root/reference/bloomine/moi.py:17-77).

    Default is the token domain (reverse orientation = plain reversal).
    With ``complement_map`` (a vocab permutation, e.g. DNA_COMPLEMENT_MAP)
    the reverse orientation is true reverse-COMPLEMENT, matching the
    reference's ``read.reverse_complement()`` anchor search and its
    revcomp normalization of '-' reads and swapped-flank slices.

    Output: doc_id, extracted (array<int>), raw anchor positions and
    orientation. The one-probe case of ``extract_targets_multi``: every
    row is assigned the same probe, and the sample and probe columns are
    dropped again.
    """
    return extract_targets_multi(
        hits.withColumn("target_id", F.lit("")),
        {"": (head_flank, tail_flank)},
        min_kmer=min_kmer,
        tokens_col=tokens_col,
        complement_map=complement_map,
    ).select("doc_id", "extracted", "head_pos", "tail_pos", "orientation")


def extract_targets_multi(
    hits: DataFrame,
    probes: dict[str, tuple],
    min_kmer: int = 11,
    tokens_col: str = "tokens",
    target_col: str = "target_id",
    sample_col: str = "source",
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Isolate inter-flank regions for MANY probes in ONE data pass.

    The reference RunManager (/root/reference/bloomine/run.py:26-61) loops
    samples × probes, re-running isolate_target per cell; at a realistic
    100-sample × 50-probe grid that is thousands of driver-serialized jobs
    over the same hits table. Here ``hits`` carries its probe assignment in
    ``target_col``, and each Arrow batch is sub-batched by probe so every
    probe's rows still go through the vectorized ``_extract_regions`` core —
    one Spark job for the whole grid.

    ``probes``: {probe_id: (head_flank_tokens, tail_flank_tokens)}.
    Output: (sample_col, doc_id, target_id, extracted, head_pos, tail_pos,
    orientation).
    """
    if sample_col not in hits.columns:
        # single-sample pipelines (reference run.py:64-130 operates per
        # sample) may not carry a sample column; emit it as empty
        hits = hits.withColumn(sample_col, F.lit(""))
    comp = (np.asarray(complement_map, dtype=np.int64)
            if complement_map is not None else None)
    prepared = {}
    for tid, (head_flank, tail_flank) in probes.items():
        head = np.asarray(list(head_flank), dtype=np.int64)
        tail = np.asarray(list(tail_flank), dtype=np.int64)
        prepared[tid] = (
            _kascade_hashes(head, min_kmer),
            _kascade_hashes(tail, min_kmer),
            len(head),
            len(tail),
        )

    schema = T.StructType(
        [
            T.StructField(sample_col, T.StringType()),
            T.StructField("doc_id", T.StringType()),
            T.StructField(target_col, T.StringType()),
            T.StructField("extracted", T.ArrayType(T.IntegerType())),
            T.StructField("head_pos", T.IntegerType()),
            T.StructField("tail_pos", T.IntegerType()),
            T.StructField("orientation", T.StringType()),
        ]
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        import pyarrow as pa
        import pyarrow.compute as pc

        from bloomine_spark.functions.kgrams import token_batch_from_arrow

        for rb in batches:
            if rb.num_rows == 0:
                continue
            # one dictionary encode splits the batch by probe: rows sorted
            # by probe code, one contiguous run per probe (nulls, code -1,
            # sort first and belong to no probe)
            enc = pc.dictionary_encode(
                rb.column(rb.schema.get_field_index(target_col))
            )
            codes = enc.indices.fill_null(-1).to_numpy()
            order = np.argsort(codes, kind="stable")
            ids = enc.dictionary.to_pylist()
            cuts = np.searchsorted(codes[order], np.arange(len(ids) + 1))
            for c in sorted(range(len(ids)), key=ids.__getitem__):
                tid = ids[c]
                if tid not in prepared:
                    continue  # unknown assignment: no flanks to anchor
                kas_head, kas_tail, len_head, len_tail = prepared[tid]
                run = order[cuts[c]:cuts[c + 1]]
                sub = rb if len(run) == rb.num_rows else rb.take(pa.array(run))
                batch = token_batch_from_arrow(sub, tokens_col)
                res = _extract_regions(batch, kas_head, kas_tail,
                                       len_head, len_tail, comp)
                if res is None:
                    continue
                rows, offs, vals, raw_h, raw_t, o_rev = res
                take = pa.array(rows)
                ext = pa.ListArray.from_arrays(pa.array(offs), pa.array(vals))
                doc = pc.cast(
                    sub.column(sub.schema.get_field_index("doc_id"))
                    .take(take),
                    pa.string(),
                )
                src = pc.cast(
                    sub.column(sub.schema.get_field_index(sample_col))
                    .take(take),
                    pa.string(),
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        src,
                        doc,
                        pa.array([tid] * len(rows), type=pa.string()),
                        ext,
                        pa.array(raw_h.astype(np.int32)),
                        pa.array(raw_t.astype(np.int32)),
                        pa.array(np.where(o_rev, "-", "+")),
                    ],
                    [sample_col, "doc_id", target_col, "extracted",
                     "head_pos", "tail_pos", "orientation"],
                )

    return hits.mapInArrow(kernel, schema=schema)


def variant_counts(extracted: DataFrame) -> DataFrame:
    """Sequence-variant counts (A6, /root/reference/bloomine/moi.py:143),
    ordered by count desc — groupBy on the array column itself."""
    return (
        extracted.groupBy("extracted")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"))
    )


def length_variant_counts(extracted: DataFrame) -> DataFrame:
    """Length-variant counts (/root/reference/bloomine/moi.py:144)."""
    return (
        extracted.select(F.size("extracted").alias("variant_len"))
        .groupBy("variant_len")
        .agg(F.count("*").alias("count"))
        .orderBy(F.desc("count"))
    )


# ---------------------------------------------------------------------------
# polyfamily: argmax probe per read (W1) + per-probe binning (W2)
# ---------------------------------------------------------------------------

def flank_intersection(scores1: DataFrame, scores2: DataFrame,
                       thr1: float, thr2: float) -> DataFrame:
    """Legacy inner-join flavor (J2): docs present in BOTH flank score sets
    with each best score above its threshold
    (/root/reference/bloomine/polyfamily.py:84-101, intersection at :91).
    Returns (doc_id, f1_best, f2_best, total)."""
    f1 = scores1.groupBy("doc_id").agg(F.max("score").alias("f1_best"))
    f2 = scores2.groupBy("doc_id").agg(F.max("score").alias("f2_best"))
    return (
        f1.join(f2, "doc_id")  # inner join == keyset intersection (U3)
        .filter(
            (F.col("f1_best") >= F.lit(float(thr1)))
            & (F.col("f2_best") >= F.lit(float(thr2)))
        )
        .select(
            "doc_id", "f1_best", "f2_best",
            (F.col("f1_best") + F.col("f2_best")).alias("total"),
        )
    )


def polyfamily_run(
    df: DataFrame,
    targets: dict[str, tuple],
    params: ScreenParams = ScreenParams(),
) -> DataFrame:
    """Multi-probe polyfamily pipeline (/root/reference/bloomine/run.py:64-130):
    cascade each probe's flank pair over the corpus, combine per-probe flank
    bests (J2 semantics), then argmax-bin docs to probes (W1).

    Returns (doc_id, target_id, total_score) of the winning probe per doc.
    """
    per_probe = None
    for tid, (f1, f2) in sorted(targets.items()):
        hits, s1, s2 = cascade(df, f1, f2, params, keep_tokens=False)
        combined = flank_intersection(
            s1.filter(F.col("sp_pass")), s2.filter(F.col("sp_pass")),
            prepare_target(f1, params).mst, prepare_target(f2, params).mst,
        ).select(
            "doc_id",
            F.lit(tid).alias("target_id"),
            F.col("total").cast("long").alias("total_score"),
        )
        per_probe = combined if per_probe is None else per_probe.unionByName(combined)
        s1.unpersist()
        s2.unpersist()
    return choose_best_probes(per_probe)


def choose_best_probes(per_probe_scores: DataFrame) -> DataFrame:
    """Input: (doc_id, target_id, total_score). Keep the max-total probe per
    doc, ties → lexicographically smaller target_id
    (/root/reference/bloomine/polyfamily.py:152-162).

    Read ids are only unique per sample, so when a ``source`` column is
    present the argmax is per (source, doc_id) — colliding ids from
    different samples must not compete."""
    w = Window.partitionBy(*_read_keys(per_probe_scores)).orderBy(
        F.desc("total_score"), F.asc("target_id")
    )
    return (
        per_probe_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def best_flank_pairs(pairs: DataFrame) -> DataFrame:
    """W1 over a ``flank_pair_scores`` log: each read's passing probe with
    the largest best(flank 1) + best(flank 2), through
    ``choose_best_probes``. Columns (read keys, target_id, total_score)."""
    total = _flank_pair_best(1) + _flank_pair_best(2)
    return choose_best_probes(
        pairs.filter(F.col("pass") == 1).select(
            *_read_keys(pairs),
            F.col("probe_id").alias("target_id"),
            total.cast("long").alias("total_score"),
        )
    )


def bin_reads_by_probe(per_probe_scores: DataFrame) -> DataFrame:
    """Per-probe doc counts after argmax assignment
    (/root/reference/bloomine/polyfamily.py:165-176)."""
    return (
        choose_best_probes(per_probe_scores)
        .groupBy("target_id")
        .agg(F.count("*").alias("n_docs"))
        .orderBy(F.desc("n_docs"), F.asc("target_id"))
    )


def max_sum_reads(per_probe_scores: DataFrame) -> DataFrame:
    """Per probe, keep docs whose total equals the probe max (A8,
    /root/reference/bloomine/polyfamily.py:145-147)."""
    w = Window.partitionBy("target_id")
    return (
        per_probe_scores.withColumn("max_total", F.max("total_score").over(w))
        .filter(F.col("total_score") == F.col("max_total"))
        .drop("max_total")
    )
