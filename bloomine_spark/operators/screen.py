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
fraction) see per-row scoring.

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

from bloomine_spark.functions.hashing import code_kgram_hashes, rolling_kgram_hash
from bloomine_spark.functions.kgrams import (
    TokenBatch,
    distinct_per_row,
    unique_kgram_hashes,
    window_codes,
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
    kset_hashes: np.ndarray          # sorted unique uint64 k-gram hashes
    kgram_matrix: np.ndarray         # (n_kset, k) int64, rows sorted by hash
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

    def kset_lookup(self, hashes: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(index into kset_hashes / kgram_matrix, hash-is-member mask)."""
        idx = np.searchsorted(self.kset_hashes, hashes)
        np.minimum(idx, len(self.kset_hashes) - 1, out=idx)
        return idx, self.kset_hashes[idx] == hashes

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
            idx, member = self.kset_lookup(h)
            codes = np.flatnonzero(member)
            toks = codes[:, None] // weights % radix
            if reverse:
                toks = (toks if cmap is None else cmap[toks])[:, ::-1]
            ok = (toks == self.kgram_matrix[idx[codes]]).all(axis=1)
            flags[codes[ok]] |= kset_bit
        object.__setattr__(self, "_table", (radix, flags))
        return flags

    def low_complexity(self) -> bool:
        """True when <50% of the target's k-grams are unique — the
        reference's Bloom-FP blowup warning (/root/reference/src/utilities.hpp:89-99)."""
        n_windows = max(len(self.target_tokens) - self.k + 1, 0)
        return len(self.kset_hashes) < 0.5 * n_windows


def prepare_target(
    target_tokens: Sequence[int],
    params: ScreenParams = ScreenParams(),
    complement_map: np.ndarray | None = None,
) -> TargetContext:
    tokens = np.asarray(list(target_tokens), dtype=np.int64)
    k = params.k
    if len(tokens) < k:
        raise ValueError(f"target shorter than k={k}")
    hashes = unique_kgram_hashes(tokens, k)
    # k-gram token matrix aligned with the sorted hash array (for exact
    # candidate verification — hash collisions must not fabricate coverage)
    win = np.lib.stride_tricks.sliding_window_view(tokens, k)
    wh = rolling_kgram_hash(tokens.astype(np.uint64), len(tokens) - k + 1, k)
    order = np.argsort(wh, kind="stable")
    wh_sorted = wh[order]
    first = np.ones(len(wh_sorted), dtype=bool)
    first[1:] = wh_sorted[1:] != wh_sorted[:-1]
    kgram_matrix = win[order][first]
    kset_hashes = wh_sorted[first]
    if len(kset_hashes) != len(hashes):  # pragma: no cover - sanity
        raise AssertionError("hash dedup mismatch")

    bf = BloomFilter.build(kset_hashes, params.false_positive)
    return TargetContext(
        target_tokens=tokens,
        k=k,
        params=params,
        kset_hashes=kset_hashes,
        kgram_matrix=np.ascontiguousarray(kgram_matrix, dtype=np.int64),
        fp_threshold=params.fp_threshold(len(kset_hashes)),
        mst=params.mst(len(kset_hashes)),
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

    Raises ValueError for a token outside the complement map's vocabulary:
    the map could not complement it (a negative token would wrap around to
    the map's last entry).
    """
    if len(values) == 0:
        return None
    lo, hi = int(values.min()), int(values.max())
    radix = hi + 1
    if complement_map is not None:
        vocab = len(complement_map)
        if lo < 0 or hi >= vocab:
            bad = lo if lo < 0 else hi
            raise ValueError(
                f"token {bad} is outside the complement map's vocabulary "
                f"of {vocab} tokens (0..{vocab - 1})"
            )
        radix = vocab
    if lo < 0:
        return None
    n_codes = radix**k
    if n_codes > min(MAX_TABLE_CODES, len(values) - k + 1):
        return None
    return radix


class FlatWindows:
    """All length-k windows of the FLAT buffer, in both orientations, row
    structure derived lazily: per-window keys (base-``radix`` codes, or
    hashes computed on first use) cover every flat position once; row ids /
    in-row starts / validity are materialized only for the (few) positions
    that survive a probe. This keeps per-batch transient allocations to the
    key arrays themselves — large temporaries serialize multi-worker
    executors on kernel page zeroing.

    The reverse orientation is the reverse complement: ``complement_map``
    (a vocabulary permutation, or None for plain reversal) then reversal.
    """

    def __init__(self, batch: TokenBatch, k: int,
                 complement_map: np.ndarray | None = None,
                 radix: int | None = None):
        self.batch = batch
        self.k = k
        self.complement_map = complement_map
        self.radix = radix
        self.n_windows = max(len(batch.values) - k + 1, 0)
        self.codes = (
            None if radix is None
            else window_codes(batch.values, self.n_windows, k, radix)
        )
        self._hashes: dict[bool, np.ndarray] = {}
        self._row_ends = batch.offsets + batch.lens

    def hashes(self, reverse: bool = False) -> np.ndarray:
        """Hash of every window (``reverse``: of its reverse complement)."""
        h = self._hashes.get(reverse)
        if h is None:
            flat = self.batch.flat
            if reverse and self.complement_map is not None:
                flat = self.complement_map[flat.astype(np.int64)].astype(np.uint64)
            h = rolling_kgram_hash(flat, self.n_windows, self.k, reverse=reverse)
            self._hashes[reverse] = h
        return h

    def tokens(self, pos: np.ndarray, reverse: bool) -> np.ndarray:
        """(len(pos), k) int64 tokens of the windows at ``pos``, reverse
        complemented when ``reverse``."""
        gather = pos[:, None] + np.arange(self.k, dtype=np.int64)[None, :]
        toks = self.batch.values[gather].astype(np.int64)
        if reverse:
            if self.complement_map is not None:
                toks = self.complement_map[toks]
            toks = toks[:, ::-1]
        return toks

    def rows_of(self, pos: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
        """(row_ids, valid_mask) for flat window positions."""
        rows = np.searchsorted(self.batch.offsets, pos, side="right") - 1
        valid = pos + self.k <= self._row_ends[rows]
        return rows, valid

    def starts_of(self, pos: np.ndarray, rows: np.ndarray,
                  reverse: bool) -> np.ndarray:
        """In-row window starts (reversed-row coordinates when reverse)."""
        starts = pos - self.batch.offsets[rows]
        if reverse:
            starts = self.batch.lens[rows] - self.k - starts
        return starts


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
    rows, valid = win.rows_of(hit_pos)
    if row_mask is not None:
        valid &= row_mask[rows]
    rows = rows[valid]
    uniq = distinct_per_row(rows, keys[hit_pos[valid]])
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

    On the hash path candidates come from hash membership (searchsorted into
    the sorted target hash set) and are then confirmed token-by-token
    against the aligned k-gram matrix, so hash collisions cannot fabricate
    coverage — mirroring the reference's exact map lookup
    (src/FQread.hpp:233-241). The window table stores the outcome of that
    same check per code, so the table path is a flag test.
    """
    win = tw.win
    if tw.on_table:
        pos = tw.flagged(RC_KSET if reverse else FWD_KSET)
    else:
        h = win.hashes(reverse)
        idx, member = tw.ctx.kset_lookup(h)
        pos = np.flatnonzero(member)
    rows, valid = win.rows_of(pos)
    valid &= row_sel[rows]
    pos, rows = pos[valid], rows[valid]
    if not tw.on_table and len(pos):
        ok = (win.tokens(pos, reverse) == tw.ctx.kgram_matrix[idx[pos]]).all(axis=1)
        pos, rows = pos[ok], rows[ok]
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


def _contains_subarray(
    win: FlatWindows, pattern: np.ndarray, row_sel: np.ndarray, reverse: bool,
) -> np.ndarray:
    """Exact contiguous-subarray containment per row (vectorized).

    ``win`` holds the len(pattern)-windows of the batch. Hash them, compare
    to the pattern hash, confirm token equality, then validate row
    boundaries — collision-proof. Used by verify mode "exact".
    """
    out = np.zeros(len(row_sel), dtype=bool)
    kp = len(pattern)
    if win.n_windows == 0:
        return out
    # the transformed read contains raw-P iff some window w satisfies
    # reverse(π(w)) == P, and win.hashes(True) are exactly hash(reverse(π(w)))
    pat_h = rolling_kgram_hash(pattern.astype(np.uint64), 1, kp)[0]
    cand_pos = np.flatnonzero(win.hashes(reverse) == pat_h)
    if len(cand_pos) == 0:
        return out
    rows, valid = win.rows_of(cand_pos)
    valid &= row_sel[rows]
    cand_pos, rows = cand_pos[valid], rows[valid]
    if len(cand_pos) == 0:
        return out
    toks = win.tokens(cand_pos, reverse)
    ok = (toks == pattern[None, :].astype(np.int64)).all(axis=1)
    out[np.unique(rows[ok])] = True
    return out


def verify(
    tw: TargetWindows, fp_f: np.ndarray, fp_r: np.ndarray, mode: str,
) -> tuple[np.ndarray, np.ndarray]:
    """Phase 2 for one target: (score, sp_pass) per row.

    ``"scored"`` scores each orientation's survivors against MST;
    ``"exact"`` requires the whole target as a contiguous subarray of the
    row (reverse complemented for RC survivors).
    """
    ctx = tw.ctx
    p = ctx.params
    fp_any = fp_f | fp_r
    if mode == "scored":
        scores = np.zeros(len(fp_f), dtype=np.int64)
        score_survivors(tw, fp_f, False, scores, p)
        score_survivors(tw, fp_r, True, scores, p)
        return scores, fp_any & (scores >= ctx.mst)
    if mode == "exact":
        target = ctx.target_tokens
        pat = FlatWindows(tw.win.batch, len(target), ctx.complement_map)
        contains = _contains_subarray(pat, target, fp_f, False)
        if fp_r.any():
            contains |= _contains_subarray(pat, target, fp_r, True)
        scores = np.where(contains, len(target) * int(p.hit), 0)
        return scores, fp_any & contains
    raise ValueError(f"unknown mode {mode!r}")


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
    """
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
    column when ``keep_tokens``."""
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
    return df.mapInArrow(kernel, schema=T.StructType(fields))


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
