"""Engine session lifecycle for one benchmark run: a cold start through
``session.get_spark`` and a full stop that waits for the driver JVM to
exit."""

from __future__ import annotations

import os
import subprocess
import tempfile

from pyspark import SparkContext
from pyspark.sql import SparkSession

from reports_generator_spark.session import get_spark

APP_NAME = "perfbench"


def cores() -> int:
    return len(os.sched_getaffinity(0))


def session_conf(run_dir: str, trace: bool) -> dict[str, str]:
    """Keep every file Spark writes inside ``run_dir``; with ``trace``,
    write a plain (uncompressed, single-file) event log there."""
    conf = {
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tempfile.gettempdir()} -Dderby.system.home={run_dir}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        log_dir = os.path.join(run_dir, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + log_dir,
                "spark.eventLog.rolling.enabled": "false",
                "spark.eventLog.compress": "false",
            }
        )
    return conf


def start(conf: dict[str, str]) -> SparkSession:
    """Start the engine in a new JVM with get_spark's default catalog:
    Hive over an embedded Derby metastore, created under the run
    directory (``derby.system.home``)."""
    spark = get_spark(APP_NAME, master=f"local[{cores()}]", extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark: SparkSession | None) -> None:
    """Stop the session, then the JVM, and wait for it to exit."""
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    proc.stdin.close()  # the JVM's gateway server exits on stdin EOF
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
