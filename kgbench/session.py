"""Start and stop the benchmark's Spark session inside the checkout."""

from __future__ import annotations

import os

EVENT_LOG_CONF = {
    "spark.eventLog.enabled": "true",
    "spark.eventLog.compress": "false",
    "spark.eventLog.rolling.enabled": "false",
}


def start(host: dict, work: str, event_dir: str | None = None):
    """A SparkSession sized by ``host``; with ``event_dir`` the event log
    is written there (uncompressed, one file)."""
    from halyard_spark import get_spark

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(host["local_dir"], exist_ok=True)
    conf = {
        "spark.local.dir": host["local_dir"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        # keep the JVM's scratch files inside the checkout
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if event_dir is not None:
        os.makedirs(event_dir, exist_ok=True)
        conf.update(EVENT_LOG_CONF, **{"spark.eventLog.dir": "file://" + event_dir})
    return get_spark(
        cpus=host["cpus"], driver_memory=host["driver_memory"],
        app_name="kgbench", extra_conf=conf,
    )


def shutdown(spark) -> None:
    """Stop the session, then end the JVM and wait for it to exit (the
    gateway JVM exits when its stdin closes)."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=120)
