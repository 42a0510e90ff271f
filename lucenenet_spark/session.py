"""SparkSession factory with scale-oriented defaults.

Tuned for the sandbox (local[N], single JVM) but every setting is the
one you'd want on a 1000-executor cluster: AQE on (runtime coalescing +
skew-join splitting), Arrow on (all our UDFs are pandas/Arrow batch,
never per-row Python), modest shuffle partitions for local mode.

Python workers fork from :mod:`lucenenet_spark.worker_daemon`
(``spark.python.daemon.module``) instead of ``pyspark.daemon``. Every
Python task, even one holding a single row, opens with
``importlib.invalidate_caches()``, and on Python 3.11 each of the 16
zipimporters a worker holds (over ``$SPARK_HOME/python/lib/pyspark.zip``
with its 1,328 entries, the py4j zip and the spark-core jar) then
re-parses its archive's central directory: 148-191 ms per task on a
4-core Xeon VM, against 0.1-0.2 ms under the engine daemon, which
re-reads an archive only when its mtime or size changed. A one-row
``mapInPandas`` job went from 0.17-0.22 s to 0.10-0.11 s (median of 15).
The worker ``PYTHONPATH`` cannot dodge the zip: Spark always puts it
first. The daemon module must be importable by the workers, which the
``spark.executorEnv.PYTHONPATH`` set below ensures.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "lucenenet-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    # Python workers must be able to import this package (the cluster
    # deployment ships it via spark-submit --py-files; locally we put
    # the repo root on the workers' PYTHONPATH).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    worker_pythonpath = os.pathsep.join(
        p for p in (pkg_root, os.environ.get("PYTHONPATH", "")) if p
    )
    shuffle_partitions = shuffle_partitions or int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", cpus))
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.executorEnv.PYTHONPATH", worker_pythonpath)
        .config("spark.python.daemon.module", "lucenenet_spark.worker_daemon")
    )
    # Pin BLAS/OMP pools inside Python workers to one thread each.
    # Without this, every one of N pandas workers spawns a
    # cores-wide OpenBLAS/OMP pool (N×cores threads): measured 5×
    # slowdown of the tokenize stage at local[32]. Parallelism comes
    # from Spark tasks, never from nested thread pools.
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        builder = builder.config(f"spark.executorEnv.{var}", "1")
        os.environ.setdefault(var, "1")
    os.environ["PYTHONPATH"] = worker_pythonpath
    return builder.getOrCreate()
