"""Sizing the engine's deployment to the machine, and starting and
stopping its Spark session without leaving processes behind.

The engine reads its deployment from environment variables
(``SPARK_GRAFT_CPUS``, ``SPARK_GRAFT_DRIVER_MEM``, ``SPARK_LOCAL_DIRS``);
the benchmark derives them from the cores this process may run on and
the machine's memory instead of using the engine's large-cluster
defaults.
"""

from __future__ import annotations

import os
import shutil
import subprocess

# share of physical memory given to the gateway JVM heap, and its limits
HEAP_SHARE = 6
HEAP_MIN_GIB, HEAP_MAX_GIB = 1, 4
JVM_EXIT_WAIT_S = 15.0


def meminfo_kib(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def machine_settings(work_dir: str) -> dict[str, str]:
    """Deployment environment for this machine.

    The heap is a fixed share of MemTotal (stable from run to run, unlike
    MemAvailable), capped by half of what is available right now."""
    cpus = len(os.sched_getaffinity(0))
    total_gib = meminfo_kib("MemTotal") // (1024 * 1024)
    avail_gib = meminfo_kib("MemAvailable") // (1024 * 1024)
    heap = max(HEAP_MIN_GIB, min(HEAP_MAX_GIB, total_gib // HEAP_SHARE, avail_gib // 2))
    return {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap}g",
        "SPARK_LOCAL_DIRS": os.path.join(work_dir, "spark-local"),
    }


def apply_settings(settings: dict[str, str], work_dir: str) -> None:
    """Export the deployment, with fresh scratch directories (a run that
    was killed may have left its scratch files behind)."""
    os.environ.update(settings)
    tmp = os.path.join(work_dir, "tmp")
    for d in (settings["SPARK_LOCAL_DIRS"], tmp):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp


def start_session(work_dir: str):
    """The engine's SparkSession, with every scratch file kept inside
    ``work_dir``."""
    from sparksqlplus_spark import get_spark

    tmp = os.path.join(work_dir, "tmp")
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(work_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )


def gateway_pid(spark) -> int | None:
    proc = getattr(spark.sparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def stop_session(spark, wait_s: float = JVM_EXIT_WAIT_S) -> None:
    """Stop the SparkSession, shut down the py4j gateway and wait (bounded,
    then kill) until the gateway JVM has exited. The JVM otherwise
    outlives ``spark.stop()`` and the interpreter by a second or two."""
    gateway = spark.sparkContext._gateway
    proc: subprocess.Popen | None = getattr(gateway, "proc", None)
    try:
        spark.stop()
    finally:
        gateway.shutdown()
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway server exits on stdin EOF
            try:
                proc.wait(timeout=wait_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=wait_s)
