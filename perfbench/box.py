"""Session start/stop, the box state and memory readings.

Everything a run writes goes under ``WORK`` inside the checkout: the
generated inputs, Spark's local and warehouse directories, the pipeline
stage outputs and the result files.
"""

from __future__ import annotations

import os
import subprocess
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"

#: The session configuration of ``bench.py``: a fixed 8 shuffle
#: partitions, a FAIR default pool, no locality wait, uncompressed
#: shuffle, a codegen cache sized to the suite, and AQE off.
BENCH_CONF = {
    "spark.scheduler.mode": "FAIR",
    "spark.locality.wait": "0s",
    "spark.shuffle.compress": "false",
    "spark.shuffle.spill.compress": "false",
    "spark.sql.codegen.cache.maxEntries": "2000",
    "spark.sql.adaptive.enabled": "false",
    "spark.driver.memory": "1g",
    "spark.ui.showConsoleProgress": "false",
}
SHUFFLE_PARTITIONS = 8


def cached(name: str, write) -> str:
    """``WORK/data/<name>``, made once per checkout by ``write(dir)``."""
    out = WORK / "data" / name
    if not out.exists():
        tmp = out.with_name(f"{name}.tmp{os.getpid()}")
        write(str(tmp))
        os.replace(tmp, out)
    return str(out)


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _pool_file() -> Path:
    path = WORK / "fairscheduler.xml"
    path.write_text(
        '<?xml version="1.0"?>\n<allocations>\n'
        '  <pool name="default">\n'
        "    <schedulingMode>FAIR</schedulingMode>\n"
        "    <weight>1</weight>\n    <minShare>0</minShare>\n"
        "  </pool>\n</allocations>\n"
    )
    return path


def start_session():
    """The bench-configured SparkSession, with every scratch directory
    (local, warehouse, JVM and Python temp) inside ``WORK``."""
    local = WORK / "spark-local"
    tmp = WORK / "tmp"
    for d in (local, tmp):
        d.mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(tmp)
    # Every JVM the session starts (the launcher and Spark's) keeps its
    # temp files here and writes no /tmp/hsperfdata file.
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    from big_data_bowl_2026_analytics_spark.core import get_spark

    conf = dict(BENCH_CONF)
    conf["spark.scheduler.allocation.file"] = str(_pool_file())
    conf["spark.sql.warehouse.dir"] = str(WORK / "warehouse")
    # A fixed-size heap, so the peak RSS does not depend on when G1 grows it.
    heap = conf["spark.driver.memory"]
    conf["spark.driver.extraJavaOptions"] = f"-Xms{heap}"
    spark = get_spark("perfbench", shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    # get_spark turns AQE on; the bench runs with it off.
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    return spark


def jvm_process(spark) -> subprocess.Popen | None:
    return getattr(spark.sparkContext._gateway, "proc", None)


def shutdown(spark) -> None:
    """Stop the session, shut the JVM down and wait until it has exited
    (its Python workers exit with it)."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    proc = jvm_process(spark)
    spark.stop()
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def peak_rss_mb(spark) -> dict[str, float]:
    """Peak resident memory of this Python process and of its JVM."""
    proc = jvm_process(spark)
    return {"python": _hwm_mb("self"), "jvm": _hwm_mb(proc.pid) if proc else 0.0}


def state(spark, clients: int) -> dict:
    """The box and session state recorded with every result."""
    conf = {k: spark.conf.get(k) for k in sorted(BENCH_CONF)}
    conf["spark.sql.shuffle.partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
    conf["spark.master"] = spark.sparkContext.master
    return {
        "nproc": nproc(),
        "clients": clients,
        "loadavg": list(os.getloadavg()),
        "time": time.time(),
        "conf": conf,
    }
