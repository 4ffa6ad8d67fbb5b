"""Session lifecycle for one benchmark process: a Spark session fitted to
the host, its timed cold start, and a clean shutdown of the JVM."""

from __future__ import annotations

import os
import subprocess
import time
from dataclasses import dataclass, field

from perfbench import stats
from perfbench.trace import event_log_conf


@dataclass
class Harness:
    """Owns the SparkSession of one run and the directories it writes.

    ``work`` is the run's private directory inside the checkout; Spark's
    local dirs, temp files, warehouse and event logs all live under it."""

    work: str
    cpus: int = field(default_factory=stats.nproc)
    driver_memory: str = field(default_factory=stats.driver_memory)
    spark: object = None
    session_start_s: float = 0.0
    event_dir: str | None = None

    def conf(self) -> dict[str, str]:
        tmp = os.path.join(self.work, "tmp")
        conf = {
            "spark.driver.memory": self.driver_memory,
            # no hsperfdata file in the system temp dir; JIT compiler
            # threads that live as long as the JVM (stats.jit_cpu_s)
            "spark.driver.extraJavaOptions":
                "-XX:-UsePerfData -XX:-UseDynamicNumberOfCompilerThreads "
                f"-Djava.io.tmpdir={tmp}",
            "spark.local.dir": os.path.join(self.work, "local"),
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
        }
        if self.event_dir:
            conf.update(event_log_conf(self.event_dir))
        return conf

    def start(self):
        """Start the session and return it. The one ``get_spark`` call is
        timed, JVM launch included, as every real process pays it."""
        from data_ingestion_system_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cpus,
                               extra_conf=self.conf())
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def host_facts(self) -> dict:
        sc = self.spark.sparkContext
        return {"master": sc.master, "parallelism": sc.defaultParallelism,
                "nproc": stats.nproc(), "driver_memory": self.driver_memory,
                "loadavg": [round(x, 2) for x in os.getloadavg()]}

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None) if gw is not None else None
        return proc.pid if proc is not None else None

    def peak_rss_mb(self) -> float:
        """Peak RSS of this Python process plus the driver JVM."""
        pid = self.jvm_pid()
        return stats.peak_rss_mb() + (stats.peak_rss_mb(pid) if pid else 0.0)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        finally:
            SparkContext._gateway = None
            SparkContext._jvm = None
            if proc is not None:
                if proc.stdin:
                    proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
