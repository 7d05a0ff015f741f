"""Deterministic benchmark inputs, generated from the workload seed and
cached under the benchmark's work directory.

Two input kinds:

* ``fastq`` — gzipped FASTQ files of 150 bp reads over A/C/G/T. About 0.1%
  of the reads carry a planted 36 bp target, half forward and half
  reverse-complement. The reference hit set is computed here, independently
  of the Spark pipeline: exact 7-mer counting in numpy narrows the reads to
  candidates, and ``bloomine_spark.oracle.screen_read`` decides each one.
* ``sequences`` — the ``datagen.generate_rows`` token table (planted
  composition, ~50% of rows in ``src0``) as parquet files, with the exact
  token/length histograms the sketch checks need and the oracle's verdicts
  on a fixed row sample for the cascade check.

Everything is a pure function of (kind, seed, scale). A cache entry is
written to a temporary directory and renamed into place when complete.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil

import numpy as np

READ_LEN = 150
TARGET_LEN = 36
PLANT_RATE = 0.001
FASTQ_FILES = 8
FASTQ_READS = 160_000          # at scale 1.0, over all files
SEQ_FILES = 8
SEQ_ROWS = 64_000              # at scale 1.0
ORACLE_SAMPLE = 2_000          # sequences rows re-scored by the oracle
CACHE_KEEP = 3                 # cache entries kept per kind

BASES = np.frombuffer(b"ACGT", dtype=np.uint8)
COMPLEMENT = np.array([3, 2, 1, 0], dtype=np.uint8)  # A<->T, C<->G


def _rng(seed: int, stream: int) -> np.random.Generator:
    return np.random.default_rng([seed, stream])


def input_dir(root: str, kind: str, seed: int, scale: float) -> str:
    # the sizes are part of the key, so a change to them regenerates
    size = (f"{FASTQ_FILES}x{FASTQ_READS}" if kind == "fastq"
            else f"{SEQ_FILES}x{SEQ_ROWS}")
    return os.path.join(root, f"{kind}-{size}-seed{seed}-x{scale:g}")


def ensure(root: str, kind: str, seed: int, scale: float) -> tuple[str, dict]:
    """Return (directory, meta) of the cached input, generating it if absent."""
    path = input_dir(root, kind, seed, scale)
    meta_path = os.path.join(path, "meta.json")
    if not os.path.isfile(meta_path):
        os.makedirs(root, exist_ok=True)
        _evict(root, kind)
        tmp = path + ".partial"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        gen = make_fastq if kind == "fastq" else make_sequences
        meta = gen(tmp, seed, scale)
        with open(os.path.join(tmp, "meta.json"), "w") as fh:
            json.dump(meta, fh)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    os.utime(path)  # marks the entry as recently used
    with open(meta_path) as fh:
        return path, json.load(fh)


def _evict(root: str, kind: str) -> None:
    entries = [os.path.join(root, d) for d in os.listdir(root)
               if d.startswith(kind + "-")]
    entries.sort(key=os.path.getmtime)
    for old in entries[: max(len(entries) - CACHE_KEEP + 1, 0)]:
        shutil.rmtree(old, ignore_errors=True)


# ---------------------------------------------------------------------------
# FASTQ
# ---------------------------------------------------------------------------

def revcomp(tokens: np.ndarray) -> np.ndarray:
    return COMPLEMENT[tokens][::-1]


def _kmer_codes(seqs: np.ndarray, k: int) -> np.ndarray:
    """2-bit codes of every k-mer window of each row of ``seqs`` (n, L)."""
    n_win = seqs.shape[1] - k + 1
    codes = np.zeros((seqs.shape[0], n_win), dtype=np.int32)
    for j in range(k):
        codes = (codes << 2) | seqs[:, j : j + n_win]
    return codes


def _distinct_hits(codes: np.ndarray, member: np.ndarray) -> np.ndarray:
    """Per row, how many DISTINCT member k-mers occur."""
    rows, cols = np.nonzero(member[codes])
    pairs = np.unique(rows.astype(np.int64) << 32 | codes[rows, cols])
    return np.bincount((pairs >> 32).astype(np.int64), minlength=len(codes))


def fastq_reference(seqs: np.ndarray, target: np.ndarray) -> dict:
    """Oracle verdicts for every read that could pass the prescreen.

    A read whose distinct target 7-mer count is below half the prescreen
    threshold in both orientations cannot pass it; every other read is
    handed to ``oracle.screen_read`` (forward, then reverse-complement).
    """
    from bloomine_spark.oracle import screen_read
    from bloomine_spark.params import ScreenParams

    p = ScreenParams()
    codes = _kmer_codes(seqs, p.k)
    tcodes = _kmer_codes(target[None, :], p.k)[0]
    rcodes = _kmer_codes(revcomp(target)[None, :], p.k)[0]
    n_kset = len(np.unique(tcodes))
    fwd_member = np.zeros(4 ** p.k, dtype=bool)
    fwd_member[tcodes] = True
    rc_member = np.zeros(4 ** p.k, dtype=bool)
    rc_member[rcodes] = True
    floor = max(p.fp_threshold(n_kset) // 2, 1)
    cand = np.flatnonzero(
        (_distinct_hits(codes, fwd_member) >= floor)
        | (_distinct_hits(codes, rc_member) >= floor)
    )
    comp = COMPLEMENT.tolist()
    tlist = target.tolist()
    fp = rc = hits = 0
    hit_rows = []
    for r in cand.tolist():
        res = screen_read(seqs[r].tolist(), tlist, p,
                          transform=lambda s: [comp[t] for t in s[::-1]])
        fp += res.fp_pass
        rc += res.fp_pass and res.rc
        if res.hit:
            hits += 1
            hit_rows.append(r)
    return {"hit_rows": hit_rows, "fp_pass": fp, "rc": rc, "sp_pass": hits}


def make_fastq(out: str, seed: int, scale: float) -> dict:
    rng = _rng(seed, 1)
    n_files = FASTQ_FILES
    per_file = max(int(FASTQ_READS * scale) // n_files, 50)
    n = per_file * n_files
    target = rng.integers(0, 4, TARGET_LEN, dtype=np.uint8)
    seqs = rng.integers(0, 4, (n, READ_LEN), dtype=np.uint8)
    n_plant = max(2, int(round(n * PLANT_RATE)) // 2 * 2)
    planted = np.sort(rng.choice(n, n_plant, replace=False))
    at = rng.integers(0, READ_LEN - TARGET_LEN + 1, n_plant)
    rc_target = revcomp(target)
    for i, (row, pos) in enumerate(zip(planted.tolist(), at.tolist())):
        seqs[row, pos : pos + TARGET_LEN] = rc_target if i % 2 else target
    # quality strings: a few fixed random profiles, Phred 2..40
    profiles = rng.integers(35, 74, (8, READ_LEN), dtype=np.uint8)
    qual_pick = rng.integers(0, len(profiles), n)

    ids = [f"s{r // per_file:02d}_r{r:08d}" for r in range(n)]
    id_w = len(ids[0])
    rec_w = 1 + id_w + 1 + READ_LEN + 1 + 2 + READ_LEN + 1
    recs = np.empty((n, rec_w), dtype=np.uint8)
    recs[:, 0] = ord("@")
    recs[:, 1 : 1 + id_w] = np.frombuffer("".join(ids).encode(), np.uint8
                                          ).reshape(n, id_w)
    c = 1 + id_w
    recs[:, c] = ord("\n")
    recs[:, c + 1 : c + 1 + READ_LEN] = BASES[seqs]
    c += 1 + READ_LEN
    recs[:, c : c + 3] = np.frombuffer(b"\n+\n", np.uint8)
    recs[:, c + 3 : c + 3 + READ_LEN] = profiles[qual_pick]
    recs[:, -1] = ord("\n")

    compressed = 0
    for f in range(n_files):
        path = os.path.join(out, f"s{f:02d}.fastq.gz")
        blob = gzip.compress(recs[f * per_file : (f + 1) * per_file].tobytes(),
                             compresslevel=6, mtime=0)
        with open(path, "wb") as fh:
            fh.write(blob)
        compressed += len(blob)

    ref = fastq_reference(seqs, target)
    return {
        "kind": "fastq",
        "target": "".join("ACGT"[t] for t in target.tolist()),
        "planted_ids": [ids[r] for r in planted.tolist()],
        "hit_ids": sorted(ids[r] for r in ref["hit_rows"]),
        "props": {
            "rows": n,
            "tokens": n * READ_LEN,
            "compressed_bytes": compressed,
            "files": n_files,
            "planted_share": n_plant / n,
            "fp_survivor_share": ref["fp_pass"] / n,
            "rc_share": ref["rc"] / max(ref["fp_pass"], 1),
            "sp_pass_share": ref["sp_pass"] / max(ref["fp_pass"], 1),
            "src0_share": per_file / n,
        },
    }


# ---------------------------------------------------------------------------
# sequences table
# ---------------------------------------------------------------------------

CASCADE_FLANKS = (slice(0, 12), slice(12, 24))  # of datagen.DEFAULT_TARGET
VOCAB = 256
MAX_LEN = 384


def make_sequences(out: str, seed: int, scale: float) -> dict:
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bloomine_spark.datagen import DEFAULT_TARGET, generate_rows
    from bloomine_spark.oracle import screen_read
    from bloomine_spark.params import ScreenParams

    n = max(int(SEQ_ROWS * scale) // SEQ_FILES, 50) * SEQ_FILES
    per_file = n // SEQ_FILES
    tok_hist = np.zeros(VOCAB, dtype=np.int64)
    len_hist = np.zeros(MAX_LEN + 1, dtype=np.int64)
    src_tok_hist: dict[str, np.ndarray] = {}
    n_src0 = 0
    compressed = 0
    sample = np.sort(_rng(seed, 2).choice(n, min(ORACLE_SAMPLE, n), replace=False))
    flank1 = DEFAULT_TARGET[CASCADE_FLANKS[0]]
    p = ScreenParams()
    oracle = {}
    for f in range(SEQ_FILES):
        ids = np.arange(f * per_file, (f + 1) * per_file)
        pdf = generate_rows(ids, seed=seed)
        lens = pdf["n_tok"].to_numpy()
        flat = np.concatenate(pdf["tokens"].to_list())
        offsets = np.zeros(len(pdf) + 1, dtype=np.int32)
        np.cumsum(lens, out=offsets[1:])
        table = pa.table({
            "doc_id": pa.array(pdf["doc_id"], type=pa.string()),
            "tokens": pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat)),
            "n_tok": pa.array(lens, type=pa.int32()),
            "source": pa.array(pdf["source"], type=pa.string()),
        })
        path = os.path.join(out, f"part-{f:02d}.parquet")
        pq.write_table(table, path)
        compressed += os.path.getsize(path)

        tok_hist += np.bincount(flat, minlength=VOCAB)
        len_hist += np.bincount(lens, minlength=MAX_LEN + 1)
        src = pdf["source"].to_numpy()
        n_src0 += int((src == "src0").sum())
        row_src = np.repeat(src, lens)
        for s in np.unique(src):
            h = np.bincount(flat[row_src == s], minlength=VOCAB)
            src_tok_hist[s] = src_tok_hist.get(s, 0) + h
        for r in sample[(sample >= ids[0]) & (sample <= ids[-1])].tolist():
            res = screen_read(pdf["tokens"].iloc[r - ids[0]].tolist(), flank1, p)
            oracle[pdf["doc_id"].iloc[r - ids[0]]] = (
                [bool(res.rc), int(res.score), bool(res.sp_pass)]
                if res.fp_pass else None
            )
    fp = [v for v in oracle.values() if v is not None]
    return {
        "kind": "sequences",
        "flank1": list(flank1),
        "flank2": list(DEFAULT_TARGET[CASCADE_FLANKS[1]]),
        "oracle_flank1": oracle,
        "token_hist": tok_hist.tolist(),
        "len_hist": len_hist.tolist(),
        "source_token_hist": {s: h.tolist() for s, h in src_tok_hist.items()},
        "props": {
            "rows": n,
            "tokens": int(tok_hist.sum()),
            "compressed_bytes": compressed,
            "files": SEQ_FILES,
            "src0_share": n_src0 / n,
            # oracle verdicts for flank 1 on the fixed row sample
            "sample_rows": len(oracle),
            "fp_survivor_share": len(fp) / max(len(oracle), 1),
            "rc_share": sum(v[0] for v in fp) / max(len(fp), 1),
            "sp_pass_share": sum(v[2] for v in fp) / max(len(fp), 1),
        },
    }
