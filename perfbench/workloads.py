"""The three benchmark workloads.

Each workload runs its pipeline once per iteration through the program's
public functions, either plainly (``run``) or with spans around each layer
call (``run_traced``), and checks the iteration's outputs (``check``).
``tokens`` is the input size an iteration processes.
"""

from __future__ import annotations

import datetime
import glob
import hashlib
import math
import os
import shutil
from contextlib import contextmanager

import numpy as np

DNA = "ACGT"
REPORT_TIME = datetime.datetime(2000, 1, 1)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(root, f))
               for root, _, files in os.walk(path) for f in files)


def sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


class Workload:
    kind = ""  # input kind (see inputs.py)
    suffix = ".parquet"

    def __init__(self, spark, in_dir: str, meta: dict, out_root: str,
                 warmup_files: int | None = None):
        self.spark = spark
        self.meta = meta
        self.out_root = out_root
        self.tokens = meta["props"]["tokens"]
        files = sorted(os.listdir(in_dir))
        # a warm-up iteration reads only the first ``warmup_files`` files
        self.paths = [os.path.join(in_dir, f) for f in files
                      if f.endswith(self.suffix)][:warmup_files]
        self.digests: dict[str, str] = {}  # first iteration's output digests
        # probe pattern of the driver-side k-gram hash / Bloom timings
        self.target = meta.get("flank1")

    def out_dir(self, it: str) -> str:
        return os.path.join(self.out_root, it)

    def cleanup(self, it: str) -> None:
        shutil.rmtree(self.out_dir(it), ignore_errors=True)
        self.spark.catalog.clearCache()

    def same_as_first(self, digests: dict[str, str]) -> list[str]:
        """Compare output digests with the first checked iteration's."""
        if not self.digests:
            self.digests = dict(digests)
            return []
        return [f"{k} differs from the first iteration"
                for k, v in digests.items() if self.digests.get(k) != v]


# ---------------------------------------------------------------------------
# fastq_screen: FASTQ.gz scan -> scored screen (RC retry) -> FASTQ hits sink
# ---------------------------------------------------------------------------

class FastqScreen(Workload):
    kind = "fastq"
    suffix = ".fastq.gz"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        from bloomine_spark.sources.fastq import tokenize_bases

        self.target = tokenize_bases(self.meta["target"]).tolist()

    def _scan(self):
        from bloomine_spark.sources.fastq import read_sequence_files

        return read_sequence_files(self.spark, self.paths, keep_quality=True)

    def _screen(self, df):
        from bloomine_spark.operators.screen import screen_scores
        from bloomine_spark.sources.fastq import DNA_COMPLEMENT_MAP

        return screen_scores(df, self.target, keep_tokens=True,
                             complement_map=DNA_COMPLEMENT_MAP)

    def run(self, it: str) -> dict:
        from bloomine_spark.sources.fastq import write_fastq

        write_fastq(self._screen(self._scan()).filter("sp_pass"),
                    self.out_dir(it))
        return {}

    def run_traced(self, it: str, tracer) -> dict:
        from pyspark.sql import functions as F

        from bloomine_spark.sources.fastq import write_fastq

        with tracer.span("operators.screen"):
            with tracer.span("sources.fastq.scan"):
                df = self._scan().cache()
                rows = df.count()
            scores = self._screen(df).cache()
            fp, rc, sp = scores.agg(
                F.count("*"), F.sum(F.col("rc").cast("long")),
                F.sum(F.col("sp_pass").cast("long"))).first()
        with tracer.span("sources.fastq.sink"):
            write_fastq(scores.filter("sp_pass"), self.out_dir(it))
        return {"rows": rows, "fp": fp, "rc": rc or 0, "sp": sp or 0,
                "sink_bytes": dir_bytes(self.out_dir(it))}

    def check(self, it: str, _result: dict) -> list[str]:
        ids, problems = [], []
        parts = os.path.join(self.out_dir(it), "*", "part-*")
        for path in sorted(glob.glob(parts)):
            with open(path) as fh:
                lines = fh.read().split("\n")
            if lines and lines[-1] == "":
                lines.pop()
            if len(lines) % 4:
                problems.append(f"{path}: truncated FASTQ record")
                continue
            for head, seq, plus, qual in zip(*[iter(lines)] * 4):
                if not (head.startswith("@") and plus == "+"
                        and len(seq) == len(qual) and set(seq) <= set(DNA)):
                    problems.append(f"{path}: malformed record {head[:40]!r}")
                ids.append(head[1:])
        got = set(ids)
        missing = set(self.meta["planted_ids"]) - got
        if missing:
            problems.append(f"{len(missing)} planted reads not found")
        if len(ids) != len(got) or got != set(self.meta["hit_ids"]):
            problems.append(
                f"hit set differs from the reference: {len(got)} hits, "
                f"{len(self.meta['hit_ids'])} expected, "
                f"{len(got - set(self.meta['hit_ids']))} unexpected")
        return problems

    def layer_metrics(self, r: dict, self_s: dict, total_s: dict) -> dict:
        scan = total_s["sources.fastq.scan"]
        return {
            "sources.fastq.scan_s": scan,
            "sources.fastq.gz_mb_per_s":
                self.meta["props"]["compressed_bytes"] / 1e6 / scan,
            "sources.fastq.sink_s": total_s["sources.fastq.sink"],
            "sources.fastq.sink_bytes": r["sink_bytes"],
            "operators.screen.self_s": self_s["operators.screen"],
            **screen_ratios(r),
        }


def screen_ratios(r: dict) -> dict:
    return {
        "operators.screen.fp_pass_ratio": r["fp"] / max(r["rows"], 1),
        "operators.screen.rc_share": r["rc"] / max(r["fp"], 1),
        "operators.screen.sp_pass_ratio": r["sp"] / max(r["fp"], 1),
    }


# ---------------------------------------------------------------------------
# moi_cascade: resumable two-flank cascade + MOI extraction + subpop report
# ---------------------------------------------------------------------------

@contextmanager
def traced_cascade(tracer):
    """Spans around the cascade's layer calls. Each stage's DataFrame is
    cached and counted inside a compute span, so the stage's own span keeps
    only the parquet write, manifest and read-back."""
    from bloomine_spark.operators import cascade
    from bloomine_spark.sources import stages

    orig_stage = stages.StageRunner.stage
    orig_extract = cascade.extract_targets

    def stage(self, name, build, manifest=None):
        def timed_build():
            with tracer.span(f"stage.{name}"):
                df = build().cache()
                df.count()
            return df

        with tracer.span("sources.stages.stage"):
            return orig_stage(self, name, timed_build, manifest)

    def extract_targets(*args, **kwargs):
        with tracer.span("operators.cascade.extract"):
            df = orig_extract(*args, **kwargs).cache()
            df.count()
        return df

    stages.StageRunner.stage = stage
    cascade.extract_targets = extract_targets
    try:
        yield
    finally:
        stages.StageRunner.stage = orig_stage
        cascade.extract_targets = orig_extract


def canonical_report(report: str) -> bytes:
    """The subpop report with each block's lines sorted: variants of equal
    count may be listed in any order."""
    blocks = report.split("\n\n")
    return "\n\n".join("\n".join(sorted(b.split("\n"))) for b in blocks
                       ).encode()


class MoiCascade(Workload):
    kind = "sequences"
    MIN_KMER = 11

    def _cascade(self, df, it: str):
        from bloomine_spark.operators.report import render_subpop_report
        from bloomine_spark.sources.stages import resumable_cascade

        out, _ = resumable_cascade(
            df, self.meta["flank1"], self.meta["flank2"], self.out_dir(it),
            extract_min_kmer=self.MIN_KMER)
        report = render_subpop_report(
            out["variants"], out["length_variants"], fastq="sequences",
            flanks_fasta="datagen DEFAULT_TARGET halves", timestamp=REPORT_TIME)
        return out, report

    def run(self, it: str) -> dict:
        _, report = self._cascade(self.spark.read.parquet(*self.paths), it)
        return {"report": report}

    def run_traced(self, it: str, tracer) -> dict:
        from pyspark.sql import functions as F

        with tracer.span("sources.parquet.scan"):
            df = self.spark.read.parquet(*self.paths).cache()
            rows = df.count()
        with traced_cascade(tracer):
            out, report = self._cascade(df, it)
        fp, rc, sp = out["flank1_scores"].agg(
            F.count("*"), F.sum(F.col("rc").cast("long")),
            F.sum(F.col("sp_pass").cast("long"))).first()
        return {"report": report, "rows": rows, "fp": fp, "rc": rc or 0,
                "sp": sp or 0, "variant_groups": out["variants"].count(),
                "bytes_written": dir_bytes(self.out_dir(it))}

    def check(self, it: str, result: dict) -> list[str]:
        problems = self.same_as_first(
            {"variant table": sha(canonical_report(result["report"]))})
        oracle = self.meta["oracle_flank1"]
        log = {
            r["doc_id"]: [bool(r["rc"]), int(r["score"]), bool(r["sp_pass"])]
            for r in self.spark.read.parquet(
                os.path.join(self.out_dir(it), "flank1_scores"))
            .filter(f"doc_id in ({','.join(repr(d) for d in oracle)})")
            .select("doc_id", "rc", "score", "sp_pass").collect()
        }
        bad = [d for d, v in oracle.items() if log.get(d) != v]
        if bad:
            problems.append(
                f"{len(bad)}/{len(oracle)} sampled rows disagree with the "
                f"oracle, e.g. {bad[0]}: log {log.get(bad[0])} oracle "
                f"{oracle[bad[0]]}")
        return problems

    def layer_metrics(self, r: dict, self_s: dict, total_s: dict) -> dict:
        flank1 = total_s["stage.flank1_scores"]
        flank2 = total_s["stage.flank2_scores"]
        return {
            "operators.screen.self_s": flank1 + flank2,
            "operators.cascade.flank1_s": flank1,
            "operators.cascade.flank2_s": flank2,
            "operators.cascade.extract_s": total_s["operators.cascade.extract"],
            "operators.cascade.flank2_input_rows": r["sp"],
            "operators.cascade.variant_groups": r["variant_groups"],
            "sources.stages.write_s": self_s["sources.stages.stage"],
            "sources.stages.bytes_written": r["bytes_written"],
            **screen_ratios(r),
        }


# ---------------------------------------------------------------------------
# sketch_rollup: per-source + global composite sketches, t-digest, checkpoint
# ---------------------------------------------------------------------------

HLL_B = 12
CMS_EPS, CMS_DELTA = 1e-3, 1e-3
KLL_K = 200
THETA_K = 4096
TDIGEST_COMPRESSION = 100.0
QUANTILES = (0.01, 0.1, 0.25, 0.5, 0.75, 0.9, 0.99)
# stated error bounds: HLL and theta within 3 standard errors; count-min
# over-counts by at most eps*N; KLL and t-digest rank error within the
# tolerance the sketch tests pin for merged states
HLL_BOUND = 3 * 1.04 / math.sqrt(1 << HLL_B)
THETA_BOUND = 3 / math.sqrt(THETA_K)
KLL_RANK_BOUND = 0.04
TDIGEST_RANK_BOUND = 0.015


def composite_factory():
    from bloomine_spark.sketch.cms import CountMinSketch
    from bloomine_spark.sketch.core import CompositeSketch
    from bloomine_spark.sketch.hll import HyperLogLog
    from bloomine_spark.sketch.kll import KLL
    from bloomine_spark.sketch.theta import ThetaSketch

    return CompositeSketch([
        HyperLogLog.empty(HLL_B), CountMinSketch.empty(CMS_EPS, CMS_DELTA),
        KLL(k=KLL_K), ThetaSketch.empty(THETA_K)])


def tdigest_factory():
    from bloomine_spark.sketch.tdigest import TDigest

    return TDigest(TDIGEST_COMPRESSION)


def rank_error(hist: np.ndarray, value: float, q: float) -> float:
    """Distance of ``q`` from the true rank interval of ``value``."""
    n = hist.sum()
    below = hist[: max(int(math.ceil(value)), 0)].sum() / n
    upto = hist[: max(int(math.floor(value)) + 1, 0)].sum() / n
    return max(below - q, q - upto, 0.0)


def composite_errors(sk, hist: np.ndarray) -> dict[str, float]:
    """Each member's error against the exact histogram, as a share of its
    bound (<= 1 means within the bound)."""
    hll, cms, kll, theta = sk.sketches
    distinct = int((hist > 0).sum())
    n = int(hist.sum())
    values = np.flatnonzero(hist)
    est = cms.estimate_values(values)
    over = est - hist[values]
    return {
        "hll": abs(hll.estimate() - distinct) / distinct / HLL_BOUND,
        "theta": abs(theta.estimate() - distinct) / distinct / THETA_BOUND,
        "cms": (float("inf") if over.min() < 0
                else over.max() / (CMS_EPS * n)),
        "kll": max(rank_error(hist, v, q) for q, v in
                   zip(QUANTILES, kll.quantiles(list(QUANTILES))))
        / KLL_RANK_BOUND,
    }


class SketchRollup(Workload):
    kind = "sequences"

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        import sys

        from pyspark import cloudpickle

        # the sketch factories run on executors, which cannot import this
        # module: ship them by value
        cloudpickle.register_pickle_by_value(sys.modules[__name__])

    def run(self, it: str) -> dict:
        from bloomine_spark.sketch.core import sketch_agg, sketch_agg_global
        from bloomine_spark.sources.checkpoint import checkpointed_sketch_agg

        df = self.spark.read.parquet(*self.paths)
        per_source = {r["source"]: bytes(r["sketch_state"]) for r in
                      sketch_agg(df, ["source"], "tokens", composite_factory)
                      .collect()}
        glob_sk = sketch_agg_global(df, "tokens", composite_factory)
        td = sketch_agg_global(df, "n_tok", tdigest_factory)
        ck, _ = checkpointed_sketch_agg(df, "tokens", composite_factory,
                                        self.out_dir(it), "run", "tokens")
        return {"per_source": per_source, "global": glob_sk, "tdigest": td,
                "checkpoint": ck}

    def run_traced(self, it: str, tracer) -> dict:
        from bloomine_spark.sketch.core import (
            merge_grouped,
            sketch_partials,
            tree_merge_global,
        )
        from bloomine_spark.sources.checkpoint import checkpointed_sketch_agg

        df = self.spark.read.parquet(*self.paths)
        state_bytes = 0

        def partials(group_cols, col, factory):
            nonlocal state_bytes
            with tracer.span("sketch.core.partials"):
                p = sketch_partials(df, group_cols, col, factory).cache()
                state_bytes += sum(len(r[0]) for r in
                                   p.select("sketch_state").collect())
            return p

        p = partials(["source"], "tokens", composite_factory)
        with tracer.span("sketch.core.merge"):
            per_source = {r["source"]: bytes(r["sketch_state"]) for r in
                          merge_grouped(p, ["source"], composite_factory)
                          .collect()}
        out = {"per_source": per_source}
        for key, col, factory in (("global", "tokens", composite_factory),
                                  ("tdigest", "n_tok", tdigest_factory)):
            p = partials([], col, factory)
            with tracer.span("sketch.core.merge"):
                out[key] = type(factory()).from_bytes(
                    tree_merge_global(p, factory))
        with tracer.span("sources.checkpoint.write"):
            out["checkpoint"], _ = checkpointed_sketch_agg(
                df, "tokens", composite_factory, self.out_dir(it), "run",
                "tokens")
        out["state_bytes"] = state_bytes
        return out

    def errors(self, r: dict) -> dict[str, float]:
        """Every estimate's error as a share of its stated bound."""
        from bloomine_spark.sketch.core import CompositeSketch

        hist = np.asarray(self.meta["token_hist"])
        errs = {f"global.{k}": v for k, v in
                composite_errors(r["global"], hist).items()}
        errs.update({f"checkpoint.{k}": v for k, v in
                     composite_errors(r["checkpoint"], hist).items()})
        src_hist = self.meta["source_token_hist"]
        for src, blob in r["per_source"].items():
            for k, v in composite_errors(CompositeSketch.from_bytes(blob),
                                         np.asarray(src_hist[src])).items():
                errs[f"{src}.{k}"] = v
        len_hist = np.asarray(self.meta["len_hist"])
        errs["tdigest"] = max(
            rank_error(len_hist, v, q) for q, v in
            zip(QUANTILES, r["tdigest"].quantiles(list(QUANTILES)))
        ) / TDIGEST_RANK_BOUND
        return errs

    def check(self, it: str, r: dict) -> list[str]:
        problems = []
        if sorted(r["per_source"]) != sorted(self.meta["source_token_hist"]):
            problems.append("per-source sketch keys differ from the sources")
            return problems
        problems += [f"{k} estimate outside its bound ({v:.2f}x)"
                     for k, v in self.errors(r).items() if not v <= 1.0]
        digests = {f"state {s}": sha(b) for s, b in r["per_source"].items()}
        digests["state global"] = sha(r["global"].to_bytes())
        digests["state tdigest"] = sha(r["tdigest"].to_bytes())
        digests["state checkpoint"] = sha(r["checkpoint"].to_bytes())
        return problems + self.same_as_first(digests)

    def max_rel_err(self, r: dict) -> float:
        """Worst error against the exact values, in the estimate's own
        terms (relative count error, or rank error for quantiles)."""
        bounds = {"hll": HLL_BOUND, "theta": THETA_BOUND, "cms": CMS_EPS,
                  "kll": KLL_RANK_BOUND, "tdigest": TDIGEST_RANK_BOUND}
        return max(v * bounds[k.rsplit(".", 1)[-1]]
                   for k, v in self.errors(r).items())

    def layer_metrics(self, r: dict, self_s: dict, total_s: dict) -> dict:
        return {
            "sketch.core.partials_s": total_s["sketch.core.partials"],
            "sketch.core.merge_s": total_s["sketch.core.merge"],
            "sketch.core.state_bytes": r["state_bytes"],
            "sources.checkpoint.write_s": total_s["sources.checkpoint.write"],
            "sketch.max_rel_err": self.max_rel_err(r),
        }


WORKLOADS = {
    "fastq_screen": FastqScreen,
    "moi_cascade": MoiCascade,
    "sketch_rollup": SketchRollup,
}
