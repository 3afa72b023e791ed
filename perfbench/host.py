"""Host record and the benchmark's Spark session, fitted to the host.

``prepare`` must run before pyspark is imported: it points every
temporary location (Python and JVM temp files, Spark local dirs, the
event log) into the run's work directory inside the checkout, exports
``PYTHONPATH`` so UDF workers can import ``crawler_spark`` wherever the
driver was started, and sizes the driver heap from host RAM through the
``SPARK_DRIVER_MEM`` knob ``crawler_spark.session.get_spark`` reads.
"""

from __future__ import annotations

import os
import platform
import sys


def ncpus() -> int:
    return len(os.sched_getaffinity(0))


def ram_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def driver_mem_mb(ram: int) -> int:
    """A quarter of host RAM, between 1 GiB and the project's 24 GiB
    default (the rest is left to Python UDF workers and to whatever
    else shares the host)."""
    return max(1024, min(24 * 1024, ram // 4))


def prepare(root: str, work: str) -> dict:
    """Set the environment for a Spark session rooted in ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("tmp", "local", "events", "warehouse")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = dirs["tmp"]
    os.environ["SPARK_LOCAL_DIRS"] = dirs["local"]
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_mb(ram_mb())}m"
    # worker processes are started by the JVM from this environment
    paths = [root] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(dict.fromkeys(paths))
    return dirs


def start_session(dirs: dict, event_log: bool):
    """``get_spark`` on ``local[nproc]`` with nproc shuffle partitions."""
    from crawler_spark.session import get_spark

    n = ncpus()
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": dirs["warehouse"],
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['tmp']}"
        ),
    }
    if event_log:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": dirs["events"],
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app_name="perfbench", master=f"local[{n}]",
                      shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop the session, then the JVM it runs in, and wait for it."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)


def record(spark, kernel_rows_per_s: float) -> dict:
    """Everything needed to tell whether two results are comparable."""
    import numpy
    import pandas
    import pyarrow
    import pyspark

    return {
        "nproc": ncpus(),
        "ram_mb": ram_mb(),
        "driver_mem": os.environ.get("SPARK_DRIVER_MEM"),
        "java": spark._jvm.System.getProperty("java.version"),
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "pandas": pandas.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": numpy.__version__,
        "machine": platform.machine(),
        "kernel_rows_per_s": round(kernel_rows_per_s, 1),
    }
