"""Per-query measurement harness (guide §1): times individual declared
queries with the noop sink so computation is measured, not the sink, and
optionally dumps .explain("formatted") for plan audits.

Usage:
    python tools/qtime.py [--sf-dir DIR] [--repeat N] [--explain DIR] \
        [--fresh-session-per-query] query1 query2 ...

Per-query timings guide plan work only; speed claims are perfbench
results (perfbench/run.py), the one benchmark.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--repeat", type=int, default=3)
    ap.add_argument("--explain", default=None,
                    help="directory to write <query>.txt formatted plans")
    ap.add_argument("--ui", action="store_true", help="enable the Spark UI")
    ap.add_argument("--action", choices=["noop", "count"], default="noop",
                    help="noop = full-column compute (guide §1.4); "
                         "count = time a count() action instead")
    args = ap.parse_args()

    from bloomine_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    extra = {"spark.ui.showConsoleProgress": "false"}
    if args.ui:
        extra["spark.ui.enabled"] = "true"
    spark = get_spark(
        master=f"local[{cpus}]",
        app_name="bloomine-qtime",
        shuffle_partitions=max(int(cpus), 16),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    out: dict[str, list[float]] = {}
    for name in args.queries:
        if name not in qs:
            print(f"!! unknown query {name}", file=sys.stderr)
            continue
        if args.explain:
            os.makedirs(args.explain, exist_ok=True)
            df = qs[name](spark, args.sf_dir)
            buf = io.StringIO()
            stdout, sys.stdout = sys.stdout, buf
            try:
                df.explain("formatted")
            finally:
                sys.stdout = stdout
            with open(os.path.join(args.explain, f"{name}.txt"), "w") as f:
                f.write(buf.getvalue())
        samples = []
        for _ in range(args.repeat):
            spark.sparkContext.setJobDescription(f"qtime:{name}")
            t0 = time.time()
            df = qs[name](spark, args.sf_dir)
            if args.action == "count":
                df.count()
            else:
                df.write.format("noop").mode("overwrite").save()
            samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            # queries that cache internally must not leak across repeats
            spark.catalog.clearCache()
        out[name] = samples
        print(json.dumps({"query": name, "samples": samples,
                          "min": min(samples),
                          "median": sorted(samples)[len(samples) // 2]}),
              flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
