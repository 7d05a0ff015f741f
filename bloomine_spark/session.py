"""SparkSession builder tuned for the engine's workload.

Local testing uses local[N]; the same configs are what we'd submit to a
real cluster (AQE for runtime re-planning and skew splitting, Arrow for the
JVM↔Python batch boundary, explicit shuffle partition sizing).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

from pyspark.sql import SparkSession


def package_zip() -> str:
    """Zip the bloomine_spark package for --py-files-style shipping.

    On a real cluster this is what ``spark-submit --py-files`` distributes;
    locally we addPyFile the same artifact so executor Python workers can
    import the package no matter where the driver was launched from.
    """
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    out = os.path.join(tempfile.gettempdir(), "bloomine_spark_pkg.zip")
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if not fn.endswith(".py"):
                    continue
                full = os.path.join(root, fn)
                rel = os.path.join(
                    "bloomine_spark", os.path.relpath(full, pkg_dir)
                )
                zf.write(full, rel)
    return out


def ship_package(spark: SparkSession) -> None:
    """``addPyFile`` the package zip once per SparkContext. Spark ignores
    a second add of the same path (with a warning), so zipping again for
    it is wasted work."""
    sc = spark.sparkContext
    if getattr(sc, "_bloomine_pkg_shipped", False):
        return
    sc.addPyFile(package_zip())
    sc._bloomine_pkg_shipped = True


def get_spark(
    master: str | None = None,
    app_name: str = "bloomine-spark",
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    master = master or f"local[{os.environ.get('SPARK_GRAFT_CPUS', '32')}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # Arrow batches are the unit of work for every kernel; large token
        # arrays → keep batches bounded so executor memory is predictable
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Broadcast decisions come from AQE's RUNTIME sizes, never from
        # static estimates: a HashAggregate above an explode is estimated
        # far below reality, and the planner repeatedly picked such
        # relations as broadcast build sides (at sf1.0 it broadcast a
        # 67M-row candidate-pair aggregate and OOMed the driver — AQE
        # never demotes a statically planned broadcast join). Explicit
        # F.broadcast() hints are unaffected. Scale-independent posture:
        # the same misestimates exist on a 100 TB corpus, with worse
        # consequences.
        .config("spark.sql.autoBroadcastJoinThreshold", "-1")
        .config("spark.sql.adaptive.autoBroadcastJoinThreshold", "10m")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    ship_package(spark)
    return spark


def job_session(app_name: str) -> SparkSession:
    """The session of a ``jobs/`` CLI: master and resources come from
    spark-submit (or pyspark's local default). AQE may also coalesce the
    output partitions of cached plans — otherwise a cached DataFrame keeps
    all ``spark.sql.shuffle.partitions`` (200 by default) and every scan of
    it runs that many tasks, however few rows it holds."""
    return (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .getOrCreate()
    )
