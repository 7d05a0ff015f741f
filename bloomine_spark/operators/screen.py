"""Two-phase Bloom-prescreen + verify filter over token sequences.

The flagship operator (SURVEY.md §2.2 F1/F3/F4): given a target token
pattern, find rows whose token array contains it (exactly, or within a
scored error tolerance). Phase 1 is a Bloom membership prescreen over
distinct k-gram windows with a reversed-array retry on failure; phase 2
verifies survivors (exact subarray containment, or the reference's
max-subalignment score vs MST).

Spark-first design: the whole per-row pipeline (FP → RC retry → SP) runs
fused inside ONE ``mapInArrow`` pass — shuffle-free, embarrassingly
parallel, the cluster-scale analog of the reference's per-thread loop
(/root/reference/src/BlooMineUtils.cpp:306-373). The Bloom filter, target
k-gram set, and thresholds are built once on the driver (they are tiny) and
shipped via a Spark broadcast, exactly as the reference shares its filter by
const-ref across threads (/root/reference/src/BlooMineUtils.cpp:262-264).
Everything inside the kernel is vectorized numpy over Arrow batches — no
per-row Python in the FP hot path; only post-prescreen survivors (a tiny
fraction) see per-row scoring. Like the reference's loop, which decodes and
screens each read in one place, a screen of the FASTQ reader's own
DataFrame decodes and screens in one Python pass.

Window tables: over a small alphabet (DNA: 5 tokens, 5^7 = 78 125 possible
7-grams) every window is first turned into a base-V integer code, and each
target answers its four per-window questions (Bloom hit and token-confirmed
target k-gram, forward and reverse complement) once per possible code, in a
V^k-byte table built lazily on the executor. The prescreen then costs one
gather per window instead of a rolling hash, ~n_hashes Bloom probes and a
second complemented hash for the RC retry. Batches whose alphabet is too
large for a table (V^k > 2^20) or too small to amortize one (V^k above the
batch's window count) take the hash path; both paths give identical output.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator, Sequence

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bloomine_spark.functions.arrowmap import map_in_arrow
from bloomine_spark.functions.hashing import code_kgram_hashes
from bloomine_spark.functions.kgrams import (
    FlatWindows,
    KgramIndex,
    distinct_per_row,
    exact_matches,
    kgram_index,
    token_range,
)
from bloomine_spark.params import ScreenParams
from bloomine_spark.sketch.bloom import BloomFilter

# window-table flag bits: one byte per possible window code
FWD_BLOOM, RC_BLOOM, FWD_KSET, RC_KSET = 1, 2, 4, 8
# largest table (bytes per target); bigger alphabets take the hash path
MAX_TABLE_CODES = 1 << 20


@dataclass
class TargetContext:
    """Driver-built, broadcast-shipped screening context for one target.

    The build is the reference's generateBloomFilter + MST computation
    (/root/reference/src/BlooMineUtils.cpp:76-120) re-expressed over token
    k-grams.
    """

    target_tokens: np.ndarray        # int64
    k: int
    params: ScreenParams
    kset: KgramIndex                 # the target's distinct k-grams
    fp_threshold: int
    mst: float
    bloom_bytes: bytes
    complement_map: np.ndarray | None = None  # optional vocab permutation

    _bloom: BloomFilter | None = field(default=None, repr=False, compare=False)
    # (radix, flags) of the last window table built on this executor
    _table: tuple[int, np.ndarray] | None = field(
        default=None, repr=False, compare=False
    )

    @property
    def bloom(self) -> BloomFilter:
        if self._bloom is None:
            object.__setattr__(self, "_bloom", BloomFilter.from_bytes(self.bloom_bytes))
        return self._bloom

    def __getstate__(self):
        d = dict(self.__dict__)
        d["_bloom"] = None
        d["_table"] = None
        return d

    def window_table(self, radix: int) -> np.ndarray:
        """Flag byte per window code over the alphabet ``[0, radix)``.

        Code ``c`` is the window ``t_0..t_{k-1}`` with
        ``c = sum(t_j * radix**(k-1-j))`` (see ``window_codes``). Its byte
        holds FWD_BLOOM / RC_BLOOM (Bloom hit of the window / of its reverse
        complement) and FWD_KSET / RC_KSET (exact target k-gram, confirmed
        token by token). Every bit comes from the same hashes, probes and
        token checks as the hash path, so both paths decide alike. Only the
        last radix's table is kept: at most MAX_TABLE_CODES bytes.
        """
        if self._table is not None and self._table[0] == radix:
            return self._table[1]
        k = self.k
        weights = radix ** np.arange(k - 1, -1, -1, dtype=np.int64)
        flags = np.zeros(radix**k, dtype=np.uint8)
        for reverse, bloom_bit, kset_bit in (
            (False, FWD_BLOOM, FWD_KSET), (True, RC_BLOOM, RC_KSET),
        ):
            cmap = self.complement_map if reverse else None
            h = code_kgram_hashes(radix, k, cmap, reverse)
            flags[self.bloom.contains_hashes(h)] |= bloom_bit
            idx, member = self.kset.lookup(h)
            codes = np.flatnonzero(member)
            toks = codes[:, None] // weights % radix
            if reverse:
                toks = (toks if cmap is None else cmap[toks])[:, ::-1]
            ok = (toks == self.kset.rows[idx[codes]]).all(axis=1)
            flags[codes[ok]] |= kset_bit
        object.__setattr__(self, "_table", (radix, flags))
        return flags

    def low_complexity(self) -> bool:
        """True when <50% of the target's k-grams are unique — the
        reference's Bloom-FP blowup warning (/root/reference/src/utilities.hpp:89-99)."""
        n_windows = max(len(self.target_tokens) - self.k + 1, 0)
        return len(self.kset) < 0.5 * n_windows


def prepare_target(
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> TargetContext:
    tokens = np.asarray(list(target_tokens), dtype=np.int64)
    k = params.k
    if len(tokens) < k:
        raise ValueError(f"target shorter than k={k}")
    kset = kgram_index(tokens, k)
    bf = BloomFilter.build(kset.hashes, params.false_positive)
    return TargetContext(
        target_tokens=tokens,
        k=k,
        params=params,
        kset=kset,
        fp_threshold=params.fp_threshold(len(kset)),
        mst=params.mst(len(kset)),
        bloom_bytes=bf.to_bytes(),
        complement_map=complement_map,
    )


# ---------------------------------------------------------------------------
# scoring kernel (runs only on prescreen survivors)
# ---------------------------------------------------------------------------

def score_coverage_mask(mask: np.ndarray, p: ScreenParams) -> int:
    """Max-subalignment score of one boolean coverage mask (thin wrapper
    over score_runs; kept as the conformance-test surface)."""
    edges = np.flatnonzero(np.diff(mask.astype(np.int8)))
    starts = np.concatenate(([0], edges + 1))
    ends = np.concatenate((edges + 1, [len(mask)]))
    return score_runs(mask[starts], ends - starts, p)


def score_runs(run_cov: np.ndarray, run_len: np.ndarray, p: ScreenParams) -> int:
    """Max-subalignment score from a run-length-encoded coverage mask.

    Implements the reference's removeTrailing → splitSubalignments →
    findMaxSubalignment chain (/root/reference/src/FQread.hpp:320-489),
    preserving the X9 bridge-cost quirk ``go + (ge*g - 1)``. Only prescreen
    survivors reach this (SURVEY.md §7 risk note).
    """
    cov_idx = np.flatnonzero(run_cov)
    if len(cov_idx) == 0:
        return 0
    # strip leading/trailing uncovered runs (removeTrailing)
    lo, hi = cov_idx[0], cov_idx[-1]
    run_cov = run_cov[lo : hi + 1]
    run_len = run_len[lo : hi + 1]

    gap_threshold = p.gap_threshold()

    # fragments: maximal chunks split at gap runs >= gap_threshold; within a
    # fragment, covered runs score +hit*len, internal gaps -go-(g-1)*ge
    frag_scores: list[float] = []
    frag_gaps: list[int] = []
    cur = 0.0
    for cov, ln in zip(run_cov, run_len):
        if cov:
            cur += p.hit * int(ln)
        elif ln >= gap_threshold:
            frag_scores.append(int(cur))
            frag_gaps.append(int(ln))
            cur = 0.0
        else:
            cur -= p.gap_open + p.gap_extend * (int(ln) - 1)
    frag_scores.append(int(cur))
    frag_gaps.append(0)

    s = len(frag_scores)
    best = frag_scores[0]
    if s > 1:
        for i in range(s):
            acc = 0.0
            for j in range(i, s):
                acc += frag_scores[j]
                cand = int(acc) if j > i else frag_scores[i]
                if cand > best:
                    best = cand
                if j < s - 1:
                    acc -= p.gap_open
                    acc -= p.gap_extend * frag_gaps[j] - 1  # X9 quirk
    return int(best)


# ---------------------------------------------------------------------------
# the mapInArrow kernel
# ---------------------------------------------------------------------------

def window_radix(
    values: np.ndarray, k: int, complement_map: np.ndarray | None = None
) -> int | None:
    """Radix of a batch's window codes, or None to keep the hash path.

    The table path needs every token in ``[0, V)`` with V = max token + 1
    (at least ``len(complement_map)`` when a map is given), V^k within
    MAX_TABLE_CODES, and V^k no larger than the batch's window count, so a
    table never costs more to build than hashing the batch it serves.

    Raises ValueError for a token outside the complement map's vocabulary
    (``token_range``).
    """
    if len(values) == 0:
        return None
    lo, hi = token_range(values, complement_map)
    radix = hi + 1 if complement_map is None else len(complement_map)
    if lo < 0:
        return None
    n_codes = radix**k
    if n_codes > min(MAX_TABLE_CODES, len(values) - k + 1):
        return None
    return radix


class TargetWindows:
    """One target's answers for a FlatWindows. On the table path they are
    one gather from the target's window table per window; on the hash path
    they come from Bloom probes and k-set lookups of the window hashes."""

    def __init__(self, win: FlatWindows, ctx: TargetContext):
        self.win = win
        self.ctx = ctx
        self.on_table = win.codes is not None
        if self.on_table:
            flags = np.take(ctx.window_table(win.radix), win.codes)
            # flagged windows (Bloom hits) are rare: keep only those
            self._pos = np.flatnonzero(flags.astype(bool))
            self._flags = flags[self._pos]

    def flagged(self, bit: int) -> np.ndarray:
        """Flat positions of the windows whose table byte has ``bit``."""
        return self._pos[(self._flags & bit) != 0]


def _fp_pass_counts(
    tw: TargetWindows, n_rows: int, row_mask: np.ndarray | None,
    reverse: bool = False,
) -> np.ndarray:
    """Distinct-kgram Bloom hit count per row (vectorized F1/A3).

    Probes every flat window, then derives row structure for hits only:
    distinct-hits-per-row == distinct (row, window key) among valid hits —
    the oracle's distinct-tuple rule (``oracle.fp_screen``).
    """
    win = tw.win
    if tw.on_table:
        keys = win.codes
        hit_pos = tw.flagged(RC_BLOOM if reverse else FWD_BLOOM)
    else:
        keys = win.hashes(reverse)
        hit_pos = np.flatnonzero(tw.ctx.bloom.contains_hashes(keys))
    if len(hit_pos) == 0:
        return np.zeros(n_rows, dtype=np.int64)
    hit_pos, rows = win.in_rows(hit_pos, row_mask)
    uniq = distinct_per_row(rows, keys[hit_pos])
    return np.bincount(rows[uniq], minlength=n_rows)


def prescreen(
    tw: TargetWindows, n_rows: int, rc_retry: bool
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Phase 1 for one target: (fp_f, fp_r, fp_hits) per row.

    Forward distinct Bloom-hit counts vs threshold (F1), then the reverse
    complement retry for forward failures only (F4); ``fp_hits`` is the
    count of the orientation that decided the row.
    """
    ctx = tw.ctx
    counts_f = _fp_pass_counts(tw, n_rows, None)
    if ctx.fp_threshold <= 0:
        fp_f = np.ones(n_rows, dtype=bool)  # FQread.hpp:69 quirk
    else:
        fp_f = counts_f >= ctx.fp_threshold
    fp_r = np.zeros(n_rows, dtype=bool)
    rc_rows = ~fp_f
    if not (rc_retry and rc_rows.any()):
        return fp_f, fp_r, counts_f
    counts_r = _fp_pass_counts(tw, n_rows, rc_rows, reverse=True)
    fp_r = rc_rows & (counts_r >= ctx.fp_threshold)
    return fp_f, fp_r, np.where(fp_r, counts_r, counts_f)


def _exact_candidates(
    tw: TargetWindows, row_sel: np.ndarray, reverse: bool,
) -> tuple[np.ndarray, np.ndarray]:
    """(row_ids, starts) of windows whose TOKENS exactly match a target k-gram.

    The hash path is ``exact_matches`` against the target's k-gram index
    (hash membership, then a token check, so hash collisions cannot
    fabricate coverage). The window table stores the outcome of that same
    check per code, so the table path is a flag test.
    """
    win = tw.win
    if tw.on_table:
        pos, rows = win.in_rows(
            tw.flagged(RC_KSET if reverse else FWD_KSET), row_sel
        )
    else:
        pos, rows, _ = exact_matches(win, tw.ctx.kset, reverse, row_sel)
    return rows, win.starts_of(pos, rows, reverse)


def score_survivors(
    tw: TargetWindows, row_sel: np.ndarray, reverse: bool,
    scores: np.ndarray, p: ScreenParams,
) -> None:
    """Scored verify of one orientation's survivors, written into ``scores``.

    Coverage from exact-verified k-gram candidates is painted onto ONE
    global canvas (every window interval stays inside its row, so a single
    cumsum gives every row's mask at once — no per-row allocations).
    """
    if not row_sel.any():
        return
    rids, starts = _exact_candidates(tw, row_sel, reverse)
    if len(rids) == 0:
        return
    batch, k = tw.win.batch, tw.win.k
    total_len = len(batch.values)
    gpos = batch.offsets[rids] + starts
    delta = np.zeros(total_len + 1, dtype=np.int32)
    np.add.at(delta, gpos, 1)
    np.add.at(delta, gpos + k, -1)
    gmask = np.cumsum(delta[:total_len]) > 0
    # global run-length encoding; per row: slice + clip runs
    edges = np.flatnonzero(np.diff(gmask.view(np.int8)))
    run_starts = np.concatenate(([0], edges + 1))
    run_ends = np.concatenate((edges + 1, [total_len]))
    run_vals = gmask[run_starts]
    # row-bound run windows for ALL survivors in two vectorized
    # searchsorteds; the remaining per-row work is the quirk-preserving
    # O(runs) scoring itself
    rs = np.unique(rids)
    offs = batch.offsets[rs]
    ends = offs + batch.lens[rs]
    i0s = np.searchsorted(run_ends, offs, side="right")
    i1s = np.searchsorted(run_starts, ends, side="left")
    for r, o, e, i0, i1 in zip(
        rs.tolist(), offs.tolist(), ends.tolist(), i0s.tolist(), i1s.tolist(),
    ):
        rl = np.minimum(run_ends[i0:i1], e) - np.maximum(run_starts[i0:i1], o)
        scores[r] = score_runs(run_vals[i0:i1], rl, p)


def verify(
    tw: TargetWindows, fp_f: np.ndarray, fp_r: np.ndarray, mode: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Phase 2 for one target: (score, sp_pass) per row.

    ``"scored"`` scores each orientation's survivors against MST;
    ``"exact"`` requires the whole target as a contiguous subarray of the
    row (reverse complemented for RC survivors). No other mode gets here.
    """
    ctx = tw.ctx
    p = ctx.params
    fp_any = fp_f | fp_r
    if mode == "scored":
        scores = np.zeros(len(fp_f), dtype=np.int64)
        score_survivors(tw, fp_f, False, scores, p)
        score_survivors(tw, fp_r, True, scores, p)
        return scores, fp_any & (scores >= ctx.mst)
    # exact: the whole target as the one k-gram of an index over its length
    target = ctx.target_tokens
    pat = FlatWindows(tw.win.batch, len(target), ctx.complement_map)
    whole = kgram_index(target, len(target))
    contains = np.zeros(len(fp_f), dtype=bool)
    for reverse, sel in ((False, fp_f), (True, fp_r)):
        if sel.any():
            contains[exact_matches(pat, whole, reverse, sel)[1]] = True
    scores = np.where(contains, len(target) * int(p.hit), 0)
    return scores, fp_any & contains


def make_screen_kernel(
    ctx_bc,  # Broadcast[dict[str, TargetContext]]
    tokens_col: str,
    passthrough: list[str],
    k: int,
    complement_map: np.ndarray | None = None,
    mode: str = "scored",
    rc_retry: bool = True,
    keep_tokens: bool = False,
    id_col: str = "target_id",
):
    """Build the mapInArrow function screening every target of ``ctx_bc``
    (a Spark broadcast of ``{target_id: TargetContext}``, all prepared with
    this ``k`` and ``complement_map``) in one pass over the data.

    Arrow-native: the tokens list column is consumed through its contiguous
    values+offsets buffers (zero copy, no per-row ndarrays). Window codes
    (or, off the table path, window hashes) are computed once per slice and
    shared by every target, which then pays only its own table gather (or
    Bloom probes) and its own survivors' verification. Each target's
    survivor rows are emitted as one record batch, with ``take`` on the
    original Arrow columns and the target id in column ``id_col``.
    ``mode`` is checked here, on the driver: ``verify`` sees only rows
    that survive the prescreen, so a bad mode could pass silently.
    """
    if mode not in ("scored", "exact"):
        raise ValueError(f"unknown mode {mode!r}; expected 'scored' or 'exact'")
    import pyarrow as pa

    from bloomine_spark.functions.kgrams import (
        iter_cache_slices,
        raw_list_values,
        token_batch_from_arrow,
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        ctx_map: dict[str, TargetContext] = ctx_bc.value
        for rb0 in batches:
            if rb0.num_rows == 0:
                continue
            # the table decision is per incoming batch; cache-blocking then
            # processes it in zero-copy row slices so the window temporaries
            # stay cache-resident (all downstream logic is per-row, so
            # slicing is semantics-free)
            radix = window_radix(
                raw_list_values(rb0, tokens_col), k, complement_map
            )
            for rb in iter_cache_slices(rb0, tokens_col):
                if rb.num_rows:
                    yield from _screen_slice(rb, ctx_map, radix)

    def _screen_slice(rb, ctx_map, radix):
        n = rb.num_rows
        win = FlatWindows(
            token_batch_from_arrow(rb, tokens_col), k, complement_map, radix
        )
        for tid, ctx in ctx_map.items():
            tw = TargetWindows(win, ctx)
            fp_f, fp_r, fp_hits = prescreen(tw, n, rc_retry)
            fp_any = fp_f | fp_r
            if not fp_any.any():
                continue
            scores, sp_pass = verify(tw, fp_f, fp_r, mode)
            idx_np = np.flatnonzero(fp_any)
            out_idx = pa.array(idx_np)
            cols = {c: rb.column(rb.schema.get_field_index(c)).take(out_idx)
                    for c in passthrough}
            cols[id_col] = pa.array([tid] * len(idx_np), type=pa.string())
            cols["rc"] = pa.array(fp_r[idx_np])
            cols["fp_hits"] = pa.array(fp_hits[idx_np].astype(np.int32))
            cols["score"] = pa.array(scores[idx_np].astype(np.int64))
            cols["threshold"] = pa.array(
                np.full(len(idx_np), float(ctx.mst), dtype=np.float64)
            )
            cols["sp_pass"] = pa.array(sp_pass[idx_np])
            if keep_tokens:
                cols[tokens_col] = rb.column(
                    rb.schema.get_field_index(tokens_col)
                ).take(out_idx)
            yield pa.RecordBatch.from_pydict(cols)

    return kernel


def _screen_plan(
    df: DataFrame,
    ctxs: dict[str, TargetContext],
    k: int,
    complement_map: np.ndarray | None,
    tokens_col: str,
    mode: str,
    rc_retry: bool,
    keep_tokens: bool,
    id_col: str = "target_id",
) -> DataFrame:
    """The one screen plan: a ``mapInArrow`` of ``make_screen_kernel`` over
    ``df`` with the targets ``ctxs`` broadcast. Columns: passthrough cols +
    (``id_col``, rc, fp_hits, score, threshold, sp_pass) + the tokens
    column when ``keep_tokens``.

    Handed the FASTQ reader's own uncached DataFrame, the screen kernel
    runs inside the reader's pass (``functions.arrowmap.map_in_arrow``):
    decoded whole-file batches go straight into the screen and only
    FP-surviving rows reach the JVM."""
    ctx_bc = df.sparkSession.sparkContext.broadcast(ctxs)
    fields = [f for f in df.schema.fields if f.name != tokens_col]
    passthrough = [f.name for f in fields]
    fields += [
        T.StructField(id_col, T.StringType()),
        T.StructField("rc", T.BooleanType()),
        T.StructField("fp_hits", T.IntegerType()),
        T.StructField("score", T.LongType()),
        T.StructField("threshold", T.DoubleType()),
        T.StructField("sp_pass", T.BooleanType()),
    ]
    if keep_tokens:
        fields.append(df.schema[tokens_col])
    kernel = make_screen_kernel(
        ctx_bc, tokens_col, passthrough, k, complement_map, mode, rc_retry,
        keep_tokens, id_col,
    )
    return map_in_arrow(df, kernel, T.StructType(fields))


def screen_scores(
    df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    tokens_col: str = "tokens",
    mode: str = "scored",
    rc_retry: bool = True,
    keep_tokens: bool = False,
    complement_map: np.ndarray | None = None,
) -> DataFrame:
    """Score-log DataFrame: one row per FP-surviving input row.

    Columns: passthrough cols + (rc, fp_hits, score, threshold, sp_pass)
    — the Spark analog of ``<prefix>_flank_scores.tsv``
    (/root/reference/src/BlooMineUtils.cpp:43-60).

    The one-target case of the multi-target screen plan; its target-id
    column is dropped again.
    """
    ctx = prepare_target(target_tokens, params, complement_map)
    # name the dropped id column apart from every input column
    id_col = "target_id"
    while id_col in df.columns:
        id_col = "_" + id_col
    return _screen_plan(
        df, {"": ctx}, params.k, complement_map, tokens_col, mode, rc_retry,
        keep_tokens, id_col,
    ).drop(id_col)


def screen_hits(
    df: DataFrame,
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    **kwargs,
) -> DataFrame:
    """Rows passing BOTH phases — the ``_BMfiltered`` output analog
    (/root/reference/src/BlooMineUtils.cpp:270-282)."""
    return screen_scores(df, target_tokens, params, **kwargs).filter(
        F.col("sp_pass")
    )
