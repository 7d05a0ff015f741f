"""BlooMine benchmark: one closed-loop client on local[<cores>].

    python3 perfbench/run.py --workload fastq_screen --seed 1 --seconds 16 --trace 0

Run from the repository root. The inputs are generated from the seed and
cached under .perfbench_work/ (not tracked). A run starts a fresh JVM and
Spark session, warms it up, then runs the workload's pipeline back to back
for --seconds (at least MIN_ITERATIONS times), checking every iteration's
outputs. With --trace 1 untraced iterations alternate with iterations that
carry spans around each layer call, and the per-layer metrics replace the
end-to-end ones.

The last line of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
See perfbench/README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile
import time
from statistics import median

import inputs
import layers
import procs
from session import BenchSession
from tracing import ITER_PROPERTY, Tracer, spark_task_metrics
from workloads import WORKLOADS

WORK_DIR = ".perfbench_work"
MIN_ITERATIONS = 3
MIN_TRACED_ITERATIONS = 2   # of each kind, plain and traced

END_TO_END = {
    "tokens_per_s": "1/s",
    "setup_s": "s",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "sources.fastq.scan_s": "s",
    "sources.fastq.gz_mb_per_s": "MB/s",
    "sources.fastq.sink_s": "s",
    "sources.fastq.sink_bytes": "bytes",
    "functions.hashing.kgram_hash_per_s": "1/s",
    "sketch.bloom.probe_per_s": "1/s",
    "operators.screen.fp_pass_ratio": "ratio",
    "operators.screen.rc_share": "ratio",
    "operators.screen.self_s": "s",
    "operators.screen.sp_pass_ratio": "ratio",
    "sketch.core.partials_s": "s",
    "sketch.core.merge_s": "s",
    "sketch.core.state_bytes": "bytes",
    "sketch.hll.update_per_s": "1/s",
    "sketch.cms.update_per_s": "1/s",
    "sketch.kll.update_per_s": "1/s",
    "sketch.theta.update_per_s": "1/s",
    "sketch.tdigest.update_per_s": "1/s",
    "sketch.max_rel_err": "ratio",
    "sources.checkpoint.write_s": "s",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.tasks": "count",
    "spark.task_skew": "ratio",
    "session.start_s": "s",
    "session.warmup_s": "s",
    "trace.overhead_pct": "%",
}

# printed only by moi_cascade, which BENCHMARK.json does not list
CASCADE_LAYER = {
    "operators.cascade.flank1_s": "s",
    "operators.cascade.flank2_s": "s",
    "operators.cascade.extract_s": "s",
    "operators.cascade.flank2_input_rows": "count",
    "operators.cascade.variant_groups": "count",
    "sources.stages.write_s": "s",
    "sources.stages.bytes_written": "bytes",
}


class Terminated(Exception):
    pass


def _on_sigterm(signum, _frame):
    raise Terminated(f"signal {signum}")


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="input size factor (the self-test uses a tiny one)")
    return ap.parse_args(argv)


def prepare_environment(work: str) -> None:
    """Keep every file Spark, the JVM and Python write inside ``work``, and
    drop settings from the caller's environment that would change the run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    for var in ("SPARK_GRAFT_CPUS", "SPARK_SHUFFLE_PARTITIONS",
                "SPARK_DRIVER_MEM", "PYSPARK_SUBMIT_ARGS",
                "PYSPARK_GATEWAY_PORT", "PYSPARK_GATEWAY_SECRET"):
        os.environ.pop(var, None)


class Run:
    """One benchmark invocation: set-up, the timed loop, and the result."""

    def __init__(self, args, root: str):
        self.args = args
        self.work = os.path.join(root, WORK_DIR)
        self.cls = WORKLOADS[args.workload]
        self.in_dir, self.meta = inputs.ensure(
            os.path.join(self.work, "inputs"), self.cls.kind, args.seed,
            args.scale)
        self.out_root = os.path.join(self.work, "out")
        self.event_log = (os.path.join(self.work, "eventlog")
                          if args.trace else None)
        self.cores = len(os.sched_getaffinity(0))
        self.session = None
        self.workload = None
        self.attempted = 0
        self.failures: list[str] = []

    def _label(self, label: str) -> None:
        self.session.spark.sparkContext.setLocalProperty(ITER_PROPERTY, label)

    def setup(self) -> tuple[float, float]:
        """Fresh JVM + session, then the warm-up: one iteration over as many
        input files as there are cores (every Python worker starts) and one
        over the whole input. Returns (start seconds, warm-up seconds)."""
        if self.event_log:
            shutil.rmtree(self.event_log, ignore_errors=True)
            os.makedirs(self.event_log)
        self.session = BenchSession(self.work, self.cores, self.event_log)
        start_s = self.session.start()
        self._label("warmup")
        t0 = time.perf_counter()
        for files in (self.cores, None):
            warm = self.cls(self.session.spark, self.in_dir, self.meta,
                            self.out_root, warmup_files=files)
            warm.run("warmup")
            warm.cleanup("warmup")
        warmup_s = time.perf_counter() - t0
        self.workload = self.cls(self.session.spark, self.in_dir, self.meta,
                                 self.out_root)
        return start_s, warmup_s

    def iterate(self, label: str, tracer=None) -> tuple[float, dict]:
        """One timed pipeline iteration plus its output check."""
        self._label(label)
        t0 = time.perf_counter()
        if tracer is None:
            result = self.workload.run(label)
        else:
            result = self.workload.run_traced(label, tracer)
        dt = time.perf_counter() - t0
        self.attempted += 1
        problems = self.workload.check(label, result)
        if problems:
            self.failures.append(f"{label}: " + "; ".join(problems))
        self.workload.cleanup(label)
        return dt, result

    def loop(self, seconds: float, tracer=None) -> tuple[list, list]:
        """Iterate for ``seconds`` (and at least the minimum count). With a
        tracer, plain and traced iterations alternate, so drift during the
        window affects both alike."""
        plain, traced = [], []
        minimum = MIN_TRACED_ITERATIONS if tracer else MIN_ITERATIONS
        deadline = time.perf_counter() + seconds
        while (min(len(plain), len(traced) if tracer else minimum) < minimum
               or time.perf_counter() < deadline):
            if tracer is not None and len(traced) < len(plain):
                tracer.iteration = len(traced)
                traced.append(self.iterate(f"t{len(traced)}", tracer))
            else:
                plain.append(self.iterate(f"u{len(plain)}"))
        return plain, traced

    def layer_units(self) -> dict:
        if self.args.workload == "moi_cascade":
            return {**PER_LAYER, **CASCADE_LAYER}
        return PER_LAYER

    def close(self) -> None:
        session, self.session = self.session, None
        if session is not None:
            session.close()

    # -- the two kinds of run ------------------------------------------------

    def end_to_end(self, setup) -> dict:
        iters, _ = self.loop(self.args.seconds)
        rates = [self.workload.tokens / dt for dt, _ in iters]
        # the sum over the tree bounds its simultaneous peak from above,
        # since each process peaks on its own
        rss = procs.peak_rss_mb([os.getpid()] + procs.descendants())
        self.close()
        self.info["peak_rss_mb_by_pid"] = {p: round(v) for p, v in rss.items()}
        self.info["tokens_per_s_samples"] = len(rates)
        self.info["iteration_s"] = [round(dt, 4) for dt, _ in iters]
        return {
            "tokens_per_s": median(rates),
            "setup_s": sum(setup),
            "peak_rss_mb": sum(rss.values()),
        }

    def per_layer(self, setup) -> dict:
        tracer = Tracer()
        plain, traced = self.loop(self.args.seconds, tracer)
        kernels = layers.kernel_rates(
            layers.workload_batch(self.in_dir, self.cls.kind),
            self.workload.target)
        self.close()
        tracer.dump(os.path.join(self.work, "spans.json"))

        metrics = {name: 0.0 for name in self.layer_units()}
        metrics.update(kernels)
        per_iter = [self.workload.layer_metrics(
            result, tracer.self_times(i), tracer.totals(i))
            for i, (_, result) in enumerate(traced)]
        for name in per_iter[0]:
            metrics[name] = median([m[name] for m in per_iter])
        spark = spark_task_metrics(self.event_log)
        plain_spark = [spark[f"u{i}"] for i in range(len(plain))]
        for name in plain_spark[0]:
            metrics[name] = median([m[name] for m in plain_spark])
        metrics["session.start_s"], metrics["session.warmup_s"] = setup
        metrics["trace.overhead_pct"] = 100.0 * (
            median([dt for dt, _ in traced]) / median([dt for dt, _ in plain])
            - 1.0)
        return metrics

    def execute(self) -> dict:
        self.info = {"workload": self.args.workload, "seed": self.args.seed,
                     "cores": self.cores, "input": self.meta["props"]}
        steal0 = procs.cpu_steal_s()
        try:
            setup = self.setup()
            if self.args.trace:
                metrics = self.per_layer(setup)
            else:
                metrics = self.end_to_end(setup)
        finally:
            self.close()
        self.info["start_s"], self.info["warmup_s"] = setup
        # time the hypervisor gave the machine's CPUs to other guests: the
        # usual cause of a run that is slow across the board
        self.info["cpu_steal_s"] = procs.cpu_steal_s() - steal0
        self.info["error_rate"] = len(self.failures) / self.attempted
        self.info["failures"] = self.failures
        units = self.layer_units() if self.args.trace else END_TO_END
        return {
            "correct": not self.failures,
            "attempted": self.attempted,
            "failed": len(self.failures),
            "metrics": {k: {"value": float(metrics[k]), "unit": u}
                        for k, u in units.items()},
        }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "bloomine_spark", "__init__.py")):
        print("perfbench: bloomine_spark/ not found; run from the repository "
              "root", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    sys.path.insert(1, root)
    prepare_environment(os.path.join(root, WORK_DIR))
    procs.become_subreaper()
    signal.signal(signal.SIGTERM, _on_sigterm)
    run = Run(args, root)
    result = run.execute()
    left = procs.live_descendants()
    if left:
        procs.kill_all(left)
        print(f"perfbench: processes left running: {left}", file=sys.stderr)
        return 1
    print(json.dumps(run.info))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
