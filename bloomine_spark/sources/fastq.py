"""Real FASTQ/FASTA file scan — the reference's S1/S3/S5/S6/S7 surface as
a genuine Spark source instead of a parquet-only mapping.

The reference reads per-sample FASTQ(.gz) files record-by-record
(/root/reference/bloomine/run.py:26-61, src/BlooMineUtils.cpp framing).
Spark-first version:

* ``spark.read.format("binaryFile")`` scans the file glob — one task per
  file, any Hadoop filesystem (S3/HDFS/local). For sequencing lakes this
  matches the native parallelism unit: per-sample ``.fastq.gz`` files are
  not splittable anyway, and a 100 TB corpus is tens of thousands of
  them. (Huge UNcompressed FASTQ would want a record-aware splitter;
  re-compressing to blocked gzip/zstd per sample is the standard lake
  layout and what this reader assumes.)
* gzip decode + record framing (S3/S7) + tokenization run inside ONE
  Arrow-native kernel (``mapInArrow``): the file splits once at C speed,
  sequences concatenate into a single buffer tokenized by one
  ``bytes.translate`` pass, and the token lists are built directly as an
  Arrow ListArray from a cumsum of lengths — no per-read numpy objects,
  no pandas assembly. Output is the engine's canonical sequences schema
  ``(doc_id, tokens, n_tok, source, mate)``; everything downstream
  (screen, cascade, grid) consumes it unchanged.
* sample naming / read pairing (S6): ``source`` is the file stem with
  ``.fastq/.fq/.fasta/.fa[.gz]`` and a trailing ``_R1/_R2/_1/_2`` mate
  suffix stripped; the mate number is kept as its own column.

Bases tokenize to the engine's int-token domain (A=0 C=1 G=2 T=3,
anything else 4), with ``DNA_COMPLEMENT_MAP`` as the matching
reverse-complement vocab permutation for the screen kernels' RC retry.

FASTA targets (S4/S5) are small files read driver-side via
``load_fasta_targets`` → ``{name: token_list}`` ready for
``screen_multi_scores`` / ``prepare_target``.
"""

from __future__ import annotations

import gzip
import io
import os
import re
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

# base -> token lookup (uppercase + lowercase), unknown/N -> 4
_BASE_TABLE = np.full(256, 4, dtype=np.int32)
for _i, _b in enumerate(b"ACGT"):
    _BASE_TABLE[_b] = _i
    _BASE_TABLE[_b + 32] = _i  # lowercase
# same mapping as a bytes.translate table: the C translate pass beats a
# numpy 256-table gather ~2x on long buffers
_BASE_TRANS = bytes(_BASE_TABLE.astype(np.uint8).tolist())

# A<->T, C<->G; N stays N — vocab permutation for FlatWindows(reverse=...)
DNA_COMPLEMENT_MAP = np.array([3, 2, 1, 0, 4], dtype=np.int64)

_MATE_RE = re.compile(r"_(R?)([12])$")

SEQ_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType(), False),
        T.StructField("tokens", T.ArrayType(T.IntegerType(), False), False),
        T.StructField("n_tok", T.IntegerType(), False),
        T.StructField("source", T.StringType(), False),
        T.StructField("mate", T.IntegerType(), True),
    ]
)

_QUAL_FIELD = T.StructField("qual", T.StringType(), True)

TOKEN_BASES = np.frombuffer(b"ACGTN", dtype=np.uint8)


def detokenize_bases(tokens) -> str:
    """Token array → base string (inverse of ``tokenize_bases``; every
    non-ACGT input byte round-trips as N)."""
    arr = np.asarray(tokens, dtype=np.int64)
    if len(arr) and (arr.min() < 0 or arr.max() >= len(TOKEN_BASES)):
        raise ValueError("tokens outside the DNA vocabulary 0..4")
    return TOKEN_BASES[arr].tobytes().decode("ascii")


def tokenize_bases(seq: str | bytes) -> np.ndarray:
    """Vectorized base→token mapping (no per-char Python)."""
    if isinstance(seq, str):
        seq = seq.encode("ascii", "replace")
    return _BASE_TABLE[np.frombuffer(seq, dtype=np.uint8)]


def _sample_of(path: str) -> tuple[str, int | None]:
    """(sample name, mate) from a FASTQ/FASTA file path (S6 pairing)."""
    stem = os.path.basename(path)
    if stem.endswith(".gz"):
        stem = stem[:-3]
    stem = re.sub(r"\.(fastq|fq|fasta|fa|fna)$", "", stem)
    m = _MATE_RE.search(stem)
    if m:
        return stem[: m.start()], int(m.group(2))
    return stem, None


def _maybe_gunzip(path: str, content: bytes) -> bytes:
    return gzip.decompress(content) if path.endswith(".gz") else content


def iter_fastq_records(data: bytes):
    """Yield (read_id, seq_bytes, qual_bytes) from FASTQ bytes — the S3
    record framing (4-line records, '+' separator line)."""
    lines = io.BytesIO(data)
    while True:
        header = lines.readline()
        if not header:
            return
        header = header.strip()
        if not header:
            continue
        if not header.startswith(b"@"):
            raise ValueError(f"bad FASTQ header: {header[:40]!r}")
        seq = lines.readline().strip()
        plus = lines.readline()
        if not plus.startswith(b"+"):
            raise ValueError("bad FASTQ record: missing '+' line")
        qual = lines.readline().strip()
        yield header[1:].split(b" ")[0].decode(), seq, qual


def iter_fasta_records(data: bytes):
    """Yield (name, seq_bytes, None) from (multi-line) FASTA bytes (the
    trailing None aligns the shape with iter_fastq_records' quality)."""
    name = None
    chunks: list[bytes] = []
    for line in io.BytesIO(data):
        line = line.strip()
        if not line:
            continue
        if line.startswith(b">"):
            if name is not None:
                yield name, b"".join(chunks), None
            name = line[1:].split(b" ")[0].decode()
            chunks = []
        else:
            chunks.append(line)
    if name is not None:
        yield name, b"".join(chunks), None


def parse_fastq_flat(data: bytes):
    """C-speed FASTQ framing + ONE vectorized tokenization per file.

    ``iter_fastq_records`` walks lines in Python — fine for targets, a
    bottleneck for the corpus scan. Here the whole file splits once
    (bytes.split, C), records are validated in bulk, the sequence lines
    concatenate into ONE buffer tokenized with a single C
    ``bytes.translate`` pass, and list offsets come from a cumsum —
    per-record Python is only the id decode.

    Returns (ids list[str], flat_tokens int32[total], offsets
    int64[n+1], quals list[str]).
    """
    if data.find(b"\r") != -1:  # one C-pass normalize, not per-line rstrip
        data = data.replace(b"\r\n", b"\n")
    lines = data.split(b"\n")
    while lines and not lines[-1].strip():
        lines.pop()
    if len(lines) % 4:
        raise ValueError(
            f"bad FASTQ: {len(lines)} lines is not a multiple of 4"
        )
    headers = lines[0::4]
    seqs = lines[1::4]
    pluses = lines[2::4]
    quals = lines[3::4]
    if any(not h.startswith(b"@") for h in headers):
        raise ValueError("bad FASTQ header (no '@')")
    if any(not p.startswith(b"+") for p in pluses):
        raise ValueError("bad FASTQ record: missing '+' line")
    ids = [h[1:].split(b" ", 1)[0].decode() for h in headers]
    seq_cat = b"".join(seqs)
    flat = np.frombuffer(seq_cat.translate(_BASE_TRANS), np.uint8).astype(
        np.int32
    )
    lens = np.fromiter((len(s) for s in seqs), dtype=np.int64, count=len(seqs))
    offsets = np.zeros(len(seqs) + 1, dtype=np.int64)
    np.cumsum(lens, out=offsets[1:])
    return ids, flat, offsets, [q.decode("ascii") for q in quals]


# Arrow ListArray offsets are int32: one uncompressed FASTQ file above
# ~2^31 total bases must ship as several RecordBatches with rebased
# offsets, not one (ADVICE r4 — the int64→int32 cast raised mid-scan)
_INT32_OFFSET_SAFE = (1 << 31) - 16


def _fastq_record_batches(
    ids, flat, offsets, quals, sample, mate, keep_quality,
    max_tokens: int = _INT32_OFFSET_SAFE,
):
    """Arrow RecordBatches from one parsed file, chunked at record
    boundaries so every batch's REBASED list offsets fit int32. One batch
    in the common case; a >2 GiB-of-bases file splits transparently."""
    import pyarrow as pa

    n = len(ids)
    start = 0
    while start < n:
        if offsets[n] - offsets[start] <= max_tokens:
            end = n
        else:
            end = int(np.searchsorted(
                offsets, offsets[start] + max_tokens, side="right"
            )) - 1
            end = min(max(end, start + 1), n)  # never stall on a huge read
        rel = offsets[start : end + 1] - offsets[start]
        m = end - start
        cols = [
            pa.array(ids[start:end], type=pa.string()),
            pa.ListArray.from_arrays(
                pa.array(rel, type=pa.int32()),
                pa.array(flat[offsets[start] : offsets[end]], type=pa.int32()),
            ),
            pa.array((rel[1:] - rel[:-1]).astype(np.int32)),
            pa.array([sample] * m, type=pa.string()),
            pa.array([mate] * m, type=pa.int32()),
        ]
        names = ["doc_id", "tokens", "n_tok", "source", "mate"]
        if keep_quality:
            cols.append(pa.array(quals[start:end], type=pa.string()))
            names.append("qual")
        yield pa.RecordBatch.from_arrays(cols, names)
        start = end


def read_sequence_files(
    spark: SparkSession, path_glob, fmt: str = "fastq",
    keep_quality: bool = False,
    sample_map: dict | None = None,
) -> DataFrame:
    """Distributed FASTQ/FASTA scan → canonical sequences DataFrame.

    One task per file (binaryFile source); decompress + frame + tokenize
    inside the kernel, so raw bytes never leave the executor.
    ``keep_quality`` adds the FASTQ quality string as a ``qual`` column so
    a hits sink can reproduce original records (reference _BMfiltered.fq).
    ``sample_map`` ({abspath: (sample, mate)}) overrides the filename
    heuristic with explicit grouping (see ``read_fastq_grouped``).
    """
    import pandas as pd
    import pyarrow as pa

    loader = spark.read.format("binaryFile")
    files = (
        loader.load(list(path_glob)) if isinstance(path_glob, (list, tuple))
        else loader.load(path_glob)
    ).select("path", "content")
    schema = SEQ_SCHEMA
    if keep_quality:
        schema = T.StructType(list(SEQ_SCHEMA.fields) + [_QUAL_FIELD])

    def _local(path: str) -> str:
        return path[len("file:"):] if str(path).startswith("file:") \
            else str(path)

    def _sample_mate(local: str):
        if sample_map is not None:
            return sample_map[os.path.abspath(local)]
        return _sample_of(local)

    def fastq_kernel(batches) -> Iterator["pa.RecordBatch"]:
        # Arrow-native path: one flat tokenization per file, list offsets
        # from a cumsum — no per-row numpy objects, no pandas assembly
        for rb in batches:
            paths = rb.column(0).to_pylist()
            contents = rb.column(1)
            for i, path in enumerate(paths):
                local = _local(path)
                sample, mate = _sample_mate(local)
                data = _maybe_gunzip(local, contents[i].as_py())
                ids, flat, offsets, quals = parse_fastq_flat(data)
                if not ids:
                    continue
                yield from _fastq_record_batches(
                    ids, flat, offsets, quals, sample, mate, keep_quality
                )

    def fasta_kernel(batches: Iterator["pd.DataFrame"]):
        # FASTA files (targets/references) are small — per-record is fine
        for pdf in batches:
            rows = {"doc_id": [], "tokens": [], "n_tok": [], "source": [],
                    "mate": []}
            if keep_quality:
                rows["qual"] = []
            for path, content in zip(pdf["path"], pdf["content"]):
                local = _local(path)
                sample, mate = _sample_mate(local)
                data = _maybe_gunzip(local, bytes(content))
                for rid, seq, _ in iter_fasta_records(data):
                    toks = tokenize_bases(seq)
                    rows["doc_id"].append(rid)
                    rows["tokens"].append(toks)
                    rows["n_tok"].append(len(toks))
                    rows["source"].append(sample)
                    rows["mate"].append(mate)
                    if keep_quality:
                        rows["qual"].append(None)
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    if fmt == "fastq":
        return files.mapInArrow(fastq_kernel, schema=schema)
    return files.mapInPandas(fasta_kernel, schema=schema)


def read_fastq(spark: SparkSession, path_glob: str,
               keep_quality: bool = False) -> DataFrame:
    return read_sequence_files(spark, path_glob, fmt="fastq",
                               keep_quality=keep_quality)


def write_fastq(df: DataFrame, path: str, partition_by_source: bool = True,
                tokens_col: str = "tokens",
                compression: str | None = None) -> None:
    """Distributed FASTQ hits sink — the reference's ``_BMfiltered.fq``
    (/root/reference/src/BlooMineUtils.cpp:270-284) at cluster scale:
    each partition writes its records (detokenized bases, original
    quality string when a ``qual`` column is present, else 'I'-filled)
    through Spark's text writer, partitioned by sample so every sample
    gets its own directory of .fq shards.

    Arrow-native kernel (r4 verdict #3): the tokens column is consumed
    through its contiguous values+offsets buffers — ONE gather over the
    flat buffer detokenizes the whole batch, then records are assembled
    from string slices. The prior per-row ``iterrows`` build paid ~46s
    per 1M reads; a pandas rebuild still paid ~10s in
    ``np.concatenate`` over a million tiny arrays; this kernel does the
    same million 150bp reads in ~4s (measured) — 12x the iterrows sink.
    """
    import pyarrow as pa

    from bloomine_spark.functions.kgrams import token_batch_from_arrow

    has_qual = "qual" in df.columns
    cols = ["doc_id", tokens_col] + (["qual"] if has_qual else []) \
        + (["source"] if partition_by_source else [])

    out_schema = T.StructType(
        ([T.StructField("source", T.StringType())] if partition_by_source
         else []) + [T.StructField("value", T.StringType())]
    )

    def kernel(batches) -> Iterator["pa.RecordBatch"]:
        for rb in batches:
            n = rb.num_rows
            if n == 0:
                continue
            batch = token_batch_from_arrow(rb, tokens_col)
            values, lens = batch.values, batch.lens
            if len(values) and (
                values.min() < 0 or values.max() >= len(TOKEN_BASES)
            ):
                raise ValueError("tokens outside the DNA vocabulary 0..4")
            bases = TOKEN_BASES[values].tobytes().decode("ascii")
            ends = np.cumsum(lens)
            starts = (ends - lens).tolist()
            ends = ends.tolist()
            ids = rb.column(rb.schema.get_field_index("doc_id")).to_pylist()
            quals = (
                rb.column(rb.schema.get_field_index("qual")).to_pylist()
                if has_qual else None
            )
            recs = [
                f"@{ids[i]}\n{bases[starts[i]:ends[i]]}\n+\n"
                f"{(quals[i] if quals and quals[i] else 'I' * (ends[i] - starts[i]))}"
                for i in range(n)
            ]
            cols_out = [pa.array(recs, type=pa.string())]
            names = ["value"]
            if partition_by_source:
                cols_out.insert(
                    0, rb.column(rb.schema.get_field_index("source"))
                )
                names.insert(0, "source")
            yield pa.RecordBatch.from_arrays(cols_out, names)

    lines = df.select(*cols).mapInArrow(kernel, schema=out_schema)
    writer = lines.write.mode("overwrite")
    if compression:
        writer = writer.option("compression", compression)  # e.g. "gzip"
    if partition_by_source:
        writer = writer.partitionBy("source")
    writer.text(path)


def read_fasta(spark: SparkSession, path_glob: str) -> DataFrame:
    return read_sequence_files(spark, path_glob, fmt="fasta")


def expand_suffix(suffix: str) -> list[str]:
    """Bash-brace suffix expansion, reference semantics
    (/root/reference/bloomine/utilities.py:37-59): ``_{1,2}.fastq.gz`` →
    ``["_1.fastq.gz", "_2.fastq.gz"]``; a suffix without braces passes
    through as a single-element list."""
    if "{" not in suffix:
        return [suffix]
    tmp = re.split(r"\{|\}|,", suffix)
    parts = tmp[1:-1]
    return [tmp[0] + p + tmp[-1] for p in parts]


def group_read_files(indir: str, suffix_spec: str) -> list[list[str]]:
    """Group per-sample read files by prefix across mate suffixes —
    groupReads (/root/reference/bloomine/utilities.py:99-136): every file
    matching the FIRST suffix defines a sample prefix, and every other
    suffix must exist for that prefix (missing mate → error, like the
    reference's exit(1)). Returns ``[[prefix, fq1, fq2, ...], ...]``."""
    import glob as _glob

    suffixes = expand_suffix(suffix_spec)
    base = suffixes[0]
    groups = []
    for fq in sorted(_glob.glob(os.path.join(indir, f"*{base}"))):
        prefix = os.path.basename(fq).split(base)[0]
        row = [prefix]
        for end in suffixes:
            p = os.path.join(indir, prefix + end)
            if not os.path.exists(p):
                raise FileNotFoundError(
                    f"cannot locate {p} — check the input directory and "
                    f"suffix arguments"
                )
            row.append(p)
        groups.append(row)
    if not groups:
        raise FileNotFoundError(f"cannot find reads in {indir}")
    return groups


def read_fastq_grouped(
    spark: SparkSession,
    indir: str,
    suffix_spec: str,
    keep_quality: bool = False,
) -> DataFrame:
    """Distributed scan of a reference-style sample directory: files are
    grouped by ``group_read_files`` and read with EXPLICIT (sample, mate)
    assignment from the grouping — the general form of the filename
    heuristic, correct for arbitrary lab suffix conventions
    (e.g. ``_L1_{1,2}.fq.gz``)."""
    sample_map = {}
    paths = []
    for prefix, *files in group_read_files(indir, suffix_spec):
        for mate_idx, p in enumerate(files, start=1):
            ap = os.path.abspath(p)
            sample_map[ap] = (prefix, mate_idx)
            paths.append(ap)
    return read_sequence_files(
        spark, paths, fmt="fastq", keep_quality=keep_quality,
        sample_map=sample_map,
    )


def load_fasta_flank_pairs(path: str) -> dict[str, tuple[list[int], list[int]]]:
    """Reference multifasta probe format → {target_id: (flank1, flank2)}.

    The reference pairs flanks by REPEATED record id — two records named
    ``>target_1`` are that target's flank1 and flank2 in file order, and
    any other count is a hard error
    (/root/reference/bloomine/utilities.py:62-96)."""
    with open(path, "rb") as fh:
        data = _maybe_gunzip(path, fh.read())
    grouped: dict[str, list] = {}
    for name, seq, _ in iter_fasta_records(data):
        grouped.setdefault(name, []).append(tokenize_bases(seq).tolist())
    bad = {n: len(fl) for n, fl in grouped.items() if len(fl) != 2}
    if bad:
        raise ValueError(
            f"flank headers malformed — each target id must appear exactly "
            f"twice (flank1 then flank2): {bad}"
        )
    return {n: (fl[0], fl[1]) for n, fl in grouped.items()}


def load_fasta_targets(path: str) -> dict[str, list[int]]:
    """Driver-side FASTA → {target_name: token_list} (S4/S5 — target and
    probe files are tiny; they become broadcast TargetContexts, so a
    driver-side parse is the correct scale choice)."""
    with open(path, "rb") as fh:
        data = _maybe_gunzip(path, fh.read())
    return {
        name: tokenize_bases(seq).tolist()
        for name, seq, _ in iter_fasta_records(data)
    }
