"""spark-submit entry points driven end-to-end as real subprocesses:
run_moi.py (cascade → extraction → subpop report, stage-resumable) and
run_polyfamily.py (one-pass multi-probe → assignments + JSON summary)."""

import json
import os
import subprocess
import sys

import numpy as np
import pandas as pd
import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HEAD = [11, 22, 33, 44, 55, 66, 77, 88, 99, 110, 121, 132]
TAIL = [201, 202, 203, 204, 205, 206, 207, 208, 209, 210, 211, 212]
HEAD_B = [501, 502, 503, 504, 505, 506, 507, 508, 509, 510, 511, 512]


def _write_input(spark, tmp_path):
    rows = []
    variants = [[1, 2, 3]] * 3 + [[4, 5, 6, 7]] * 2
    for i, v in enumerate(variants):
        read = [301, 302] + HEAD + v + TAIL + [401]
        rows.append({"doc_id": f"a{i}", "tokens": np.array(read, np.int32),
                     "source": "s0"})
    for i in range(2):  # probe-B docs
        read = [301] + HEAD_B + [8, 9] + TAIL + [402, 403]
        rows.append({"doc_id": f"b{i}", "tokens": np.array(read, np.int32),
                     "source": "s0"})
    pdf = pd.DataFrame(rows)
    pdf["n_tok"] = pdf["tokens"].apply(len).astype("int32")
    path = str(tmp_path / "seqs")
    spark.createDataFrame(pdf[["doc_id", "tokens", "n_tok", "source"]]).write.parquet(path)
    return path


def _run(job, argv):
    env = dict(os.environ, PYTHONPATH=REPO)
    r = subprocess.run(
        [sys.executable, os.path.join(REPO, "jobs", job), *argv],
        capture_output=True, text=True, env=env, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    return r.stdout


def test_run_moi_cli_writes_report_and_resumes(spark, tmp_path):
    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "out")
    argv = ["--input", inp, "--head", ",".join(map(str, HEAD)),
            "--tail", ",".join(map(str, TAIL)), "--min-kmer", "11",
            "--output", out, "--run-id", "m0"]
    stdout = _run("run_moi.py", argv)
    assert "stages ran: ['flank1_scores'" in stdout
    report = open(f"{out}/m0/subpop_report.txt").read()
    assert "Sequence variants:" in report and "Length variants:" in report
    assert "1 2 3\t3" in report          # detokenized variant + count
    assert "4 5 6 7\t2" in report
    assert "3\t3" in report and "4\t2" in report  # length section
    # rerun: every stage skipped
    stdout2 = _run("run_moi.py", argv)
    assert "stages ran: []" in stdout2


def test_run_polyfamily_cli_writes_json(spark, tmp_path):
    inp = _write_input(spark, tmp_path)
    out = str(tmp_path / "pf")
    targets = json.dumps({"probeA": [HEAD, TAIL], "probeB": [HEAD_B, TAIL]})
    _run("run_polyfamily.py", ["--input", inp, "--targets", targets,
                               "--min-kmer", "11", "--output", out])
    blob = json.load(open(f"{out}/polyfamily.json"))
    assert set(blob) == {"probeA", "probeB"}
    assert ["1 2 3", 3] in blob["probeA"]
    assert ["4 5 6 7", 2] in blob["probeA"]
    assert blob["probeB"] == [["8 9", 2]]
    assigned = spark.read.parquet(f"{out}/assignments").toPandas()
    got = dict(zip(assigned["doc_id"], assigned["target_id"]))
    assert got == {"a0": "probeA", "a1": "probeA", "a2": "probeA",
                   "a3": "probeA", "a4": "probeA", "b0": "probeB",
                   "b1": "probeB"}


def test_run_polyfamily_cli_multisample_colliding_ids(spark, tmp_path):
    """ADVICE r4-medium: FASTQ read ids are only unique per sample. The SAME
    read id carries a probeA read in s0 and a probeB read in s1; a
    doc_id-only argmax/join keeps one assignment for both and extracts the
    loser's read under the wrong probe's flanks, dropping its variant."""
    readA = [301, 302] + HEAD + [1, 2, 3] + TAIL + [401]
    readB = [301] + HEAD_B + [8, 9] + TAIL + [402, 403]
    pdf = pd.DataFrame([
        {"doc_id": "c0", "tokens": np.array(readA, np.int32), "source": "s0"},
        {"doc_id": "c0", "tokens": np.array(readB, np.int32), "source": "s1"},
    ])
    pdf["n_tok"] = pdf["tokens"].apply(len).astype("int32")
    inp = str(tmp_path / "collide")
    spark.createDataFrame(
        pdf[["doc_id", "tokens", "n_tok", "source"]]
    ).write.parquet(inp)
    out = str(tmp_path / "pfm")
    targets = json.dumps({"probeA": [HEAD, TAIL], "probeB": [HEAD_B, TAIL]})
    _run("run_polyfamily.py", ["--input", inp, "--targets", targets,
                               "--min-kmer", "11", "--output", out])
    blob = json.load(open(f"{out}/polyfamily.json"))
    assert blob["probeA"] == [["1 2 3", 1]]
    assert blob["probeB"] == [["8 9", 1]]
    assigned = spark.read.parquet(f"{out}/assignments").toPandas()
    got = dict(zip(assigned["source"], assigned["target_id"]))
    assert got == {"s0": "probeA", "s1": "probeB"}


def _write_grid_input(spark, tmp_path):
    """Two samples (source column) with COLLIDING read ids (a0, b0, ... in
    both samples — FASTQ read ids are only scoped per sample) and a
    different probe-A variant per sample, so any doc_id-only join between
    samples corrupts per-sample variant counts detectably."""
    rows = []
    for src, na, nb, variant in (("s0", 3, 2, [1, 2, 3]),
                                 ("s1", 2, 1, [4, 5, 6, 7])):
        for i in range(na):
            read = [301, 302] + HEAD + variant + TAIL + [401]
            rows.append({"doc_id": f"a{i}",
                         "tokens": np.array(read, np.int32), "source": src})
        for i in range(nb):
            read = [301] + HEAD_B + [8, 9] + TAIL + [402, 403]
            rows.append({"doc_id": f"b{i}",
                         "tokens": np.array(read, np.int32), "source": src})
    pdf = pd.DataFrame(rows)
    pdf["n_tok"] = pdf["tokens"].apply(len).astype("int32")
    path = str(tmp_path / "grid_seqs")
    spark.createDataFrame(
        pdf[["doc_id", "tokens", "n_tok", "source"]]
    ).write.parquet(path)
    return path


def _expected_grid_log(spark, inp, sample, probes, k=7):
    """One sample's flank_scores.log cells, recomputed in this session:
    ``combined_flank_scores`` over the sample's two full single-flank
    screens per probe, rows ordered by (probe, read)."""
    from pyspark.sql import functions as F

    from bloomine_spark.operators.cascade import combined_flank_scores
    from bloomine_spark.operators.screen import prepare_target, screen_scores
    from bloomine_spark.params import ScreenParams

    params = ScreenParams(k=k)
    df = spark.read.parquet(inp).filter(F.col("source") == sample)
    cell = lambda v: "" if v is None else str(int(v))  # noqa: E731
    rows = []
    for probe, (f1, f2) in sorted(probes.items()):
        combined = combined_flank_scores(
            screen_scores(df, f1, params), screen_scores(df, f2, params),
            prepare_target(f1, params).mst, prepare_target(f2, params).mst,
        )
        for r in combined.orderBy("doc_id").collect():
            rows.append([
                probe, r["doc_id"], cell(r["f1_score"]),
                cell(r["f1_rc_score"]), cell(r["f2_score"]),
                cell(r["f2_rc_score"]), str(float(r["threshold"])),
                str(r["pass"]),
            ])
    return rows


def test_run_grid_cli_per_sample_outputs_and_resume(spark, tmp_path):
    """RunManager surface (run.py:26-61): samples x probes in ONE job —
    per-sample flank_scores.log + polyfamily.json, resumable stages,
    O(stages) Spark jobs (not O(samples x probes))."""
    inp = _write_grid_input(spark, tmp_path)
    out = str(tmp_path / "grid")
    targets = json.dumps({"probeA": [HEAD, TAIL], "probeB": [HEAD_B, TAIL]})
    argv = ["--input", inp, "--targets", targets, "--min-kmer", "11",
            "--output", out, "--run-id", "g0"]
    stdout = _run("run_grid.py", argv)
    assert "stages ran: ['multi_scores', 'assignments', 'hits']" in stdout

    expected = {
        # sample -> (reads, probeA variant, a_count, b_count)
        "s0": ({"a0", "a1", "a2", "b0", "b1"}, "1 2 3", 3, 2),
        "s1": ({"a0", "a1", "b0"}, "4 5 6 7", 2, 1),
    }
    for sample, (reads, variant, a_count, b_count) in expected.items():
        log = open(f"{out}/samples/{sample}/{sample}.flank_scores.log").read()
        lines = log.splitlines()
        assert lines[0].split("\t") == [
            "probe_set", "read_id", "flank_1_score", "flank_1_RC_score",
            "flank_2_score", "flank_2_RC_score", "threshold", "pass"]
        # exactly this sample's reads, once per (probe, read) score row
        assert {ln.split("\t")[1] for ln in lines[1:]} == reads
        # every cell equals the merged log of this sample's two full
        # per-probe screens, in (probe, read) order
        assert [ln.split("\t") for ln in lines[1:]] == _expected_grid_log(
            spark, inp, sample, {"probeA": (HEAD, TAIL),
                                 "probeB": (HEAD_B, TAIL)})
        blob = json.load(open(f"{out}/samples/{sample}/{sample}.polyfamily.json"))
        # per-sample variants must NOT leak across the colliding read ids
        assert blob["probeA"] == [[variant, a_count]]
        assert blob["probeB"] == [["8 9", b_count]]

    assigned = spark.read.parquet(f"{out}/g0/assignments").toPandas()
    assert set(assigned["source"]) == {"s0", "s1"}
    assert (assigned[assigned["doc_id"].str.startswith("a")]["target_id"]
            == "probeA").all()
    # one assignment per (source, doc_id) despite colliding doc_ids
    assert not assigned.duplicated(["source", "doc_id"]).any()

    # O(stages) evidence: the sink phase (flank logs + polyfamily JSONs)
    # issues a constant handful of jobs, not O(samples x probes) — the r3
    # per-(sample, probe) loop issued 2 jobs per sample plus 2+ per grid
    # cell on this same fixture
    sink_jobs = int(stdout.split("sink=")[1].split()[0])
    assert sink_jobs <= 8, f"sink phase issued {sink_jobs} jobs"

    # rerun: all stages skipped, sinks re-render identically
    log_before = open(f"{out}/samples/s0/s0.flank_scores.log").read()
    stdout2 = _run("run_grid.py", argv)
    assert "stages ran: []" in stdout2
    assert open(f"{out}/samples/s0/s0.flank_scores.log").read() == log_before


def test_run_screen_cli_fastq_format(spark, tmp_path):
    """--format fastq: the CLI screens raw FASTQ.gz files with a base-string
    target (reference surface: FASTQ in, hits out) — RC retry included."""
    import gzip

    target = "ACGGTTACCAGTTGACCA" * 2
    rc = target[::-1].translate(str.maketrans("ACGT", "TGCA"))
    pad5, pad3 = "TTTTTGGGGGAAAAA", "CCCCCAAAAATTTTT"
    reads = [("r0", pad5 + target + pad3), ("r1", pad5 + rc + pad3),
             ("r2", "ACGT" * 20)]
    body = "\n".join(
        ln for rid, seq in reads
        for ln in (f"@{rid}", seq, "+", "I" * len(seq))
    ) + "\n"
    d = tmp_path / "fq"
    d.mkdir()
    (d / "samp_R1.fastq.gz").write_bytes(gzip.compress(body.encode()))
    out = str(tmp_path / "out")
    _run("run_screen.py", [
        "--input", str(d) + "/*", "--format", "fastq", "--target", target,
        "--k", "7", "--output", out, "--run-id", "fq0",
    ])
    hits = spark.read.parquet(f"{out}/hits").toPandas()
    assert sorted(hits["doc_id"]) == ["r0", "r1"]
    assert set(hits["source"]) == {"samp"}
    # the score log carries no mate column (screened off the reader's own
    # frame, ``mate`` dropped from the log)
    log_schema = (
        "struct<doc_id:string,n_tok:int,source:string,rc:boolean,"
        "fp_hits:int,score:bigint,threshold:double,sp_pass:boolean>"
    )
    for name in ("scores", "hits"):
        got = spark.read.parquet(f"{out}/{name}").schema.simpleString()
        assert got == log_schema


def test_run_grid_cli_fastq_and_fasta_probes(spark, tmp_path):
    """The reference RunManager's literal inputs — a directory of
    per-sample FASTQ.gz files plus a multifasta probe file (two records
    per target id) — drive the grid end-to-end with DNA reverse-complement
    semantics throughout."""
    import gzip

    TR = str.maketrans("ACGT", "TGCA")
    rc = lambda s: s[::-1].translate(TR)  # noqa: E731
    headA, tailA = "ACGGTCATTGGACCTT", "TTGCAGACCTGGTAAC"
    headB, tailB = "GGTACCAGTCAATGCC", "CCATGGTCAGATTGGA"
    pad = "TTGGAACCTTGGAA"

    def fq(reads):
        return gzip.compress(("\n".join(
            ln for rid, seq in reads
            for ln in (f"@{rid}", seq, "+", "I" * len(seq))
        ) + "\n").encode())

    d = tmp_path / "samples"
    d.mkdir()
    # sampleX: 2 probeA reads (variant GGAATT, one RC) + 1 probeB read
    (d / "sampleX.fastq.gz").write_bytes(fq([
        ("r0", pad + headA + "GGAATT" + tailA + pad),
        ("r1", rc(pad + headA + "GGAATT" + tailA + pad)),
        ("r2", pad + headB + "CCTTGG" + tailB + pad),
    ]))
    # sampleY: 1 probeA read with a different variant
    (d / "sampleY.fastq.gz").write_bytes(fq([
        ("r0", pad + headA + "AATTCCGG" + tailA + pad),
    ]))
    probes = tmp_path / "probes.fasta"
    probes.write_text(
        f">probeA | flank1\n{headA}\n>probeA | flank2\n{tailA}\n"
        f">probeB | flank1\n{headB}\n>probeB | flank2\n{tailB}\n"
    )
    out = str(tmp_path / "out")
    stdout = _run("run_grid.py", [
        "--input", str(d) + "/*", "--format", "fastq",
        "--targets-fasta", str(probes), "--k", "7", "--min-kmer", "11",
        "--output", out, "--run-id", "g1",
    ])
    assert "stages ran: ['multi_scores', 'assignments', 'hits']" in stdout
    # the screen reads the FASTQ reader's own frame; its mate column stays
    # out of the stage schemas
    for stage in ("multi_scores", "hits"):
        assert "mate" not in spark.read.parquet(f"{out}/g1/{stage}").columns

    from bloomine_spark.sources.fastq import tokenize_bases

    def detok(seq):
        return " ".join(str(t) for t in tokenize_bases(seq))

    bx = json.load(open(f"{out}/samples/sampleX/sampleX.polyfamily.json"))
    # the RC read's variant normalizes to the flank strand → ONE variant x2
    assert bx["probeA"] == [[detok("GGAATT"), 2]]
    assert bx["probeB"] == [[detok("CCTTGG"), 1]]
    by = json.load(open(f"{out}/samples/sampleY/sampleY.polyfamily.json"))
    assert by["probeA"] == [[detok("AATTCCGG"), 1]]
    assert "probeB" not in by


def test_run_moi_cli_fastq_dna(spark, tmp_path):
    """MOI pipeline (the reference moi.py headline) on raw FASTQ with DNA
    base-string flanks: RC reads' variants normalize onto the flank strand
    and count together in the subpop report."""
    import gzip

    TR = str.maketrans("ACGT", "TGCA")
    rc = lambda s: s[::-1].translate(TR)  # noqa: E731
    head, tail = "ACGGTCATTGGACCTT", "TTGCAGACCTGGTAAC"
    pad = "TTGGAACCTTGGAA"
    reads = [
        ("r0", pad + head + "GGAATT" + tail + pad),
        ("r1", rc(pad + head + "GGAATT" + tail + pad)),   # same variant, RC
        ("r2", pad + head + "TTAACCGG" + tail + pad),
        ("r3", "ACGT" * 20),                              # miss
    ]
    body = "\n".join(ln for rid, seq in reads
                     for ln in (f"@{rid}", seq, "+", "I" * len(seq))) + "\n"
    d = tmp_path / "moifq"
    d.mkdir()
    (d / "m1.fastq.gz").write_bytes(gzip.compress(body.encode()))
    out = str(tmp_path / "out")
    _run("run_moi.py", [
        "--input", str(d) + "/*", "--format", "fastq",
        "--head", head, "--tail", tail, "--k", "7", "--min-kmer", "11",
        "--output", out, "--run-id", "mfq",
    ])
    report = open(f"{out}/mfq/subpop_report.txt").read()
    from bloomine_spark.sources.fastq import tokenize_bases

    def detok(seq):
        return " ".join(str(t) for t in tokenize_bases(seq))

    assert f"{detok('GGAATT')}\t2" in report      # fwd + RC counted together
    assert f"{detok('TTAACCGG')}\t1" in report
    assert "6\t2" in report and "8\t1" in report  # length variants


def test_run_screen_cli_fastq_cascade_flank2(spark, tmp_path):
    """--format fastq + --flank2 as a base string: the two-flank cascade
    runs with DNA RC semantics (RC read passes both screens)."""
    import gzip

    TR = str.maketrans("ACGT", "TGCA")
    rc = lambda s: s[::-1].translate(TR)  # noqa: E731
    head, tail = "ACGGTCATTGGACCTT", "TTGCAGACCTGGTAAC"
    pad = "TTGGAACCTTGGAA"
    body = "\n".join(
        ln for rid, seq in [
            ("r0", pad + head + "GGAATT" + tail + pad),
            ("r1", rc(pad + head + "GGAATT" + tail + pad)),
            ("r2", "ACGT" * 20),
        ] for ln in (f"@{rid}", seq, "+", "I" * len(seq))
    ) + "\n"
    d = tmp_path / "cfq"
    d.mkdir()
    (d / "c.fastq.gz").write_bytes(gzip.compress(body.encode()))
    out = str(tmp_path / "out")
    _run("run_screen.py", [
        "--input", str(d) + "/*", "--format", "fastq", "--target", head,
        "--flank2", tail, "--k", "7", "--output", out, "--run-id", "c0",
    ])
    hits = spark.read.parquet(f"{out}/c0/hits").toPandas()
    assert sorted(hits["doc_id"]) == ["r0", "r1"]


def test_run_screen_cli_hits_fastq_sink(spark, tmp_path):
    """--hits-fastq writes the reference _BMfiltered.fq surface: hit reads
    re-emitted as per-sample FASTQ shards with their ORIGINAL quality
    strings."""
    import glob as _glob
    import gzip

    target = "ACGGTTACCAGTTGACCA" * 2
    pad = "TTTTTGGGGGAAAAA"
    quals = {"r0": "ABCDE" * 14, "r1": "!" * 80}
    reads = [("r0", pad + target + pad + "CCCCC"),   # hit (len 71 -> qual 70)
             ("r1", "ACGT" * 20)]                    # miss
    quals["r0"] = quals["r0"][:len(reads[0][1])]
    body = "\n".join(ln for rid, seq in reads
                     for ln in (f"@{rid}", seq, "+", quals[rid])) + "\n"
    d = tmp_path / "hfq"
    d.mkdir()
    (d / "sampQ.fastq.gz").write_bytes(gzip.compress(body.encode()))
    out = str(tmp_path / "out")
    _run("run_screen.py", [
        "--input", str(d) + "/*", "--format", "fastq", "--target", target,
        "--k", "7", "--output", out, "--run-id", "h0", "--hits-fastq",
    ])
    shards = _glob.glob(out + "/hits_fq/source=sampQ/part-*.txt")
    assert shards
    lines = [ln for sh in shards for ln in open(sh).read().splitlines()]
    assert lines[0] == "@r0"
    assert lines[1] == reads[0][1]          # bases round-tripped
    assert lines[3] == quals["r0"]          # ORIGINAL quality preserved
    assert len(lines) == 4                  # the miss did not leak
    assert spark.read.parquet(f"{out}/scores").schema.simpleString() == (
        "struct<doc_id:string,n_tok:int,source:string,qual:string,"
        "rc:boolean,fp_hits:int,score:bigint,threshold:double,"
        "sp_pass:boolean,tokens:array<int>>"
    )


def test_spark_submit_py_files_launch(spark, tmp_path):
    """The north-rule launch surface VERBATIM: package the library zip,
    launch jobs/run_screen.py through the real spark-submit binary with
    --py-files, and scrub PYTHONPATH from the environment so
    bloomine_spark can resolve ONLY from the shipped zip (driver and
    python workers both)."""
    import gzip
    import shutil

    import pyspark

    from bloomine_spark.session import package_zip

    target = "ACGGTTACCAGTTGACCA" * 2
    pad5, pad3 = "TTTTTGGGGGAAAAA", "CCCCCAAAAATTTTT"
    body = "\n".join(
        ln for rid, seq in [("r0", pad5 + target + pad3),
                            ("r1", "ACGT" * 20)]
        for ln in (f"@{rid}", seq, "+", "I" * len(seq))
    ) + "\n"
    d = tmp_path / "fq"
    d.mkdir()
    (d / "samp_R1.fastq.gz").write_bytes(gzip.compress(body.encode()))
    out = str(tmp_path / "out")

    submit = shutil.which("spark-submit") or os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    r = subprocess.run(
        [submit, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--conf", "spark.ui.enabled=false",
         "--py-files", package_zip(),
         os.path.join(REPO, "jobs", "run_screen.py"),
         "--input", str(d) + "/*", "--format", "fastq",
         "--target", target, "--k", "7",
         "--output", out, "--run-id", "ss0"],
        capture_output=True, text=True, env=env, timeout=600,
    )
    assert r.returncode == 0, (r.stdout[-2000:], r.stderr[-4000:])
    hits = spark.read.parquet(f"{out}/hits").toPandas()
    assert sorted(hits["doc_id"]) == ["r0"]


def test_job_session_lets_aqe_coalesce_cached_plans(spark):
    """A cached DataFrame behind a shuffle keeps every shuffle partition
    unless AQE may change the output partitioning of cached plans; the
    session of the jobs/ CLIs allows it, so a cached table of three rows
    is scanned by one task, not by spark.sql.shuffle.partitions tasks."""
    from pyspark.sql import functions as F

    from bloomine_spark.session import job_session

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    n_shuffle = int(spark.conf.get("spark.sql.shuffle.partitions"))
    old = spark.conf.get(key)

    def cached_partitions() -> int:
        df = spark.range(100).groupBy((F.col("id") % 3).alias("k")).count()
        df.cache()
        try:
            return df.rdd.getNumPartitions()
        finally:
            df.unpersist()

    try:
        spark.conf.set(key, "false")
        assert cached_partitions() == n_shuffle
        assert job_session("bloomine-test").conf.get(key) == "true"
        assert cached_partitions() < n_shuffle
    finally:
        spark.conf.set(key, old)
