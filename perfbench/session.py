"""One Spark session of the benchmark: start, and a shutdown that leaves no
process behind.

Shutdown order: stop the SparkContext, shut down the Py4J gateway, close
the JVM's stdin (the gateway server exits on EOF), wait for the JVM with a
bound and kill it past that, then require that no descendant of the
benchmark process is left (Python workers included).
"""

from __future__ import annotations

import os
import subprocess
import time

import procs

JVM_EXIT_TIMEOUT_S = 20.0
WORKER_EXIT_TIMEOUT_S = 10.0
DRIVER_MEMORY = "2g"


class LeakedProcesses(RuntimeError):
    pass


class BenchSession:
    def __init__(self, work_dir: str, cores: int,
                 event_log_dir: str | None = None):
        self.work_dir = work_dir
        self.cores = cores
        self.event_log_dir = event_log_dir
        self.spark = None

    def conf(self) -> dict:
        tmp = os.path.join(self.work_dir, "tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.path.join(self.work_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
            # keep the JVM's scratch files inside the benchmark's work dir;
            # fix the heap at its maximum and touch it at start, so the
            # JVM's resident set does not depend on when the GC grew it
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.event_log_dir:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = "file://" + self.event_log_dir
            # one plain JSON-lines file per application
            conf["spark.eventLog.rolling.enabled"] = "false"
            conf["spark.eventLog.compress"] = "false"
        return conf

    def start(self) -> float:
        """Launch a fresh JVM and SparkSession; return the seconds it took."""
        from bloomine_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(master=f"local[{self.cores}]",
                               app_name="perfbench", extra_conf=self.conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def close(self) -> None:
        """Stop Spark and its JVM; raise LeakedProcesses if any descendant
        process is still alive afterwards (it is killed first)."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        try:
            if self.spark is not None:
                self.spark.stop()
        finally:
            self.spark = None
            if gateway is not None:
                _stop_gateway(gateway)
            SparkContext._gateway = None
            SparkContext._jvm = None
        left = procs.wait_for_no_descendants(WORKER_EXIT_TIMEOUT_S)
        if left:
            procs.kill_all(left)
            raise LeakedProcesses(f"processes outlived the Spark session: {left}")


def _stop_gateway(gateway) -> None:
    from py4j.protocol import Py4JError

    try:
        gateway.shutdown()
    except Py4JError:
        pass  # the JVM is already gone; the process wait below still runs
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=JVM_EXIT_TIMEOUT_S)
