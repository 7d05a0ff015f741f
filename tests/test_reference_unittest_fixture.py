"""The reference's OWN unit-test fixture end-to-end.

/root/reference/src/UnitTests.cpp drives the whole engine over a canonical
two-read fixture: target ACGTACGTACGT (FASTA), reads read1=target and
read2=ATCGATCGATCG (FASTQ), k=7, FP-sim 50%, SP-error 4. This suite runs
the SAME fixture through our distributed pipeline and asserts parity with
the reference's CODE:

* genkmerset (utilities.hpp:39-53) enumerates i in [0, len-k] → the
  12-mer's 6 windows collapse to 4 distinct 7-mers {ACGTACG, CGTACGT,
  GTACGTA, TACGTAC}. (UnitTests.cpp:134 asserts size()==3 and
  GenerateBloomFilter asserts threshold==3 — both inconsistent with
  genkmerset's own enumeration and the threshold arithmetic
  BlooMineUtils.cpp:91 `size * 50/100`; the gtest expectations are stale.
  We conform to the CODE, which is what executes in production.)
* FP threshold = int(4 * 50/100) = 2 (int-truncation quirk, X1).
* read1 (contains the target verbatim) passes both screen phases; read2
  shares no 7-mer with the target and is rejected.
* The hits sink's first record is @read1 (UnitTests.cpp:104-107, the one
  integration expectation consistent with the code).
* reverseCompliment(ACGTACGTACGT) == ACGTACGTACGT — the period-4 DNA
  palindrome (UnitTests.cpp:112-118).
"""

import gzip

import numpy as np
import pytest

from bloomine_spark.params import ScreenParams
from bloomine_spark.sources.fastq import (
    DNA_COMPLEMENT_MAP,
    detokenize_bases,
    load_fasta_targets,
    read_fastq,
    tokenize_bases,
    write_fastq,
)

TARGET = "ACGTACGTACGT"
READ2 = "ATCGATCGATCG"
K = 7


@pytest.fixture()
def ref_fixture(tmp_path):
    (tmp_path / "temp.fasta").write_text(f">target_sequence\n{TARGET}\n")
    fq = (
        f"@read1\n{TARGET}\n+\n{'I' * len(TARGET)}\n"
        f"@read2\n{READ2}\n+\n{'I' * len(READ2)}\n"
    )
    (tmp_path / "temp.fastq.gz").write_bytes(gzip.compress(fq.encode()))
    return tmp_path


def test_fasta2kmerset_parity(ref_fixture):
    from bloomine_spark.functions.kgrams import kgram_index

    targets = load_fasta_targets(str(ref_fixture / "temp.fasta"))
    assert list(targets) == ["target_sequence"]
    toks = np.asarray(targets["target_sequence"])
    assert detokenize_bases(toks) == TARGET
    # genkmerset parity: 6 windows, 4 distinct (NOT the stale gtest 3)
    want = {TARGET[i : i + K] for i in range(len(TARGET) - K + 1)}
    assert want == {"ACGTACG", "CGTACGT", "GTACGTA", "TACGTAC"}
    assert len(kgram_index(toks.astype(np.int64), K).hashes) == len(want)


def test_fp_threshold_parity():
    # BlooMineUtils.cpp:91: threshold = kmer_array.size() * 50/100 (int)
    p = ScreenParams(k=K, fp_sim=50.0)
    assert p.fp_threshold(4) == 2
    assert p.fp_threshold(3) == 1  # what the stale gtest's size-3 implies


def test_screen_and_hits_sink_parity(spark, ref_fixture):
    from bloomine_spark.operators.screen import screen_scores

    reads = read_fastq(
        spark, str(ref_fixture) + "/temp.fastq.gz", keep_quality=True
    ).drop("mate")
    targets = load_fasta_targets(str(ref_fixture / "temp.fasta"))
    scores = screen_scores(
        reads,
        list(targets["target_sequence"]),
        ScreenParams(k=K, fp_sim=50.0, sp_error=4.0),
        complement_map=DNA_COMPLEMENT_MAP,
    ).cache()
    rows = {r["doc_id"]: r for r in scores.collect()}
    assert rows["read1"]["sp_pass"] is True       # the hit
    assert "read2" not in rows or not rows["read2"]["sp_pass"]

    # hits sink: first record is @read1 with the original bases + quals
    hit_reads = reads.join(
        scores.filter("sp_pass").select("source", "doc_id"),
        ["source", "doc_id"],
    )
    out = str(ref_fixture / "out")
    write_fastq(hit_reads, out, partition_by_source=False)
    import glob

    lines = [
        ln
        for sh in sorted(glob.glob(out + "/part-*.txt"))
        for ln in open(sh).read().splitlines()
    ]
    assert lines[0] == "@read1"                   # UnitTests.cpp:107
    assert lines[1] == TARGET and lines[3] == "I" * len(TARGET)
    assert len(lines) == 4                        # read2 did not leak


def test_reverse_complement_palindrome():
    toks = tokenize_bases(TARGET).astype(np.int64)
    rc = DNA_COMPLEMENT_MAP[toks[::-1]]
    assert detokenize_bases(rc) == TARGET         # UnitTests.cpp:117
    # and a non-palindrome control
    toks2 = tokenize_bases("AACGT").astype(np.int64)
    assert detokenize_bases(DNA_COMPLEMENT_MAP[toks2[::-1]]) == "ACGTT"
