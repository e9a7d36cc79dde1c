"""Run directory, Spark session, set-up and memory readings.

Everything a run writes (Spark's local dirs, the JVM's temp files, the
shipped package zip, the index directory, the event log) goes under one
directory inside the working directory, which is removed at exit: a
run reads and writes nothing outside its checkout.
"""

from __future__ import annotations

import os
import shutil
import statistics
import tempfile

import datagen

RUN_ROOT = ".perfbench_run"


def cpu_count() -> int:
    """Cores this process may use (what ``nproc`` prints)."""
    return len(os.sched_getaffinity(0))


class RunDir:
    """``<cwd>/.perfbench_run/<pid>``; every temp file of the run lives
    here, including the JVM's and the Python workers' (TMPDIR is set
    before the JVM starts). On entry it removes the directories that
    killed runs left behind: those whose pid is no longer running."""

    def __init__(self, root: str):
        self.path = os.path.join(root, RUN_ROOT, str(os.getpid()))

    def __enter__(self) -> "RunDir":
        parent = os.path.dirname(self.path)
        for name in os.listdir(parent) if os.path.isdir(parent) else ():
            if not (name.isdigit() and os.path.exists(f"/proc/{name}")):
                shutil.rmtree(os.path.join(parent, name), ignore_errors=True)
        shutil.rmtree(self.path, ignore_errors=True)
        os.makedirs(self.path)
        for sub in ("tmp", "local"):
            os.makedirs(os.path.join(self.path, sub))
        os.environ["TMPDIR"] = os.path.join(self.path, "tmp")
        tempfile.tempdir = os.environ["TMPDIR"]
        return self

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def __exit__(self, *exc) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        parent = os.path.dirname(self.path)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)


def spark_session(run: RunDir, extra: dict | None = None):
    """A session with bench.py's settings on local[nproc]. The progress
    bar is off and every scratch path points into the run directory."""
    from pyspark.sql import SparkSession

    cpus = str(cpu_count())
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName("weaviate_txtai_spark-perfbench")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "16g")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(run.path, "local"))
        .config(
            "spark.driver.extraJavaOptions",
            f"-Djava.io.tmpdir={os.path.join(run.path, 'tmp')}",
        )
        .config("spark.sql.warehouse.dir", os.path.join(run.path, "warehouse"))
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(run: RunDir, extra: dict | None = None):
    """Session creation (the JVM launch), ``ship.ensure_shipped`` and
    the first query — bench.py's warm-up (``vector_count`` and
    ``knn_topk``) over the sf0.1 ``embeddings`` table."""
    from weaviate_txtai_spark.plans.queries import queries
    from weaviate_txtai_spark.ship import ensure_shipped

    spark = spark_session(run, extra)
    ensure_shipped(spark)
    qs = queries()
    qs["vector_count"](spark, datagen.SF_DIR).collect()
    if qs["knn_topk"](spark, datagen.SF_DIR).count() == 0:
        raise RuntimeError("warm-up query returned no rows")
    return spark


def _hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def jvm_pid(spark) -> int:
    return spark.sparkContext._gateway.proc.pid


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this process plus its Spark JVM (the sum
    of the two high-water marks)."""
    return _hwm_mb("self") + _hwm_mb(jvm_pid(spark))


def shut_down(spark) -> None:
    """Stop the session, then end the JVM and wait for it."""
    from pyspark import SparkContext

    proc = spark.sparkContext._gateway.proc
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc.stdin:
        proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except Exception:
        proc.kill()
        proc.wait()


def median(xs):
    return statistics.median(xs) if xs else float("nan")
