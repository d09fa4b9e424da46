"""The benchmark's Spark session: the engine's ``get_spark`` on
``local[<cores - 1>]``, with every scratch path inside the checkout."""

from __future__ import annotations

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
TMP = os.path.join(WORK, "tmp")
DRIVER_MEMORY = "3g"


def cores() -> int:
    """Spark's task slots: one fewer than the CPUs this process may use.
    The Spark driver's own threads (py4j, the scheduler, GC and JIT
    threads, the Python driver and its UDF workers) keep the last CPU
    busy; a task slot for every CPU would put more runnable threads than
    CPUs, and a run would also time the guest's scheduler. On 4 vCPUs a
    prepare pass took the same time on 3 slots as on 4, with 3.3 cores
    busy either way."""
    return max(len(os.sched_getaffinity(0)) - 1, 1)


def start_spark(app: str, event_log: str | None):
    """``event_log``: directory for the Spark event log (traced runs), or
    None for no log."""
    os.makedirs(TMP, exist_ok=True)
    # Python workers import the engine (datagen's mapInPandas, the pip UDF):
    # the JVM passes its own PYTHONPATH on to the workers it spawns
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = TMP
    os.environ["SPARK_LOCAL_DIRS"] = TMP
    n = cores()
    os.environ["SPARK_GRAFT_CPUS"] = str(n)
    from osmquadtree_bin_spark.session import get_spark

    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # progress bars share stdout with the result line
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": TMP,
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={TMP} -XX:+UseParallelGC -XX:-UsePerfData"
        ),
    }
    if event_log:
        os.makedirs(event_log, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log,
            "spark.eventLog.compress": "false",
        })
    spark = get_spark(app=app, master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark
