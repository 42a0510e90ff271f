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

The JVM talks to its Python workers over a Unix socket
(``spark.python.unix.domain.socket.enabled``). Over TCP, Spark sets no
``TCP_NODELAY`` on the worker socket, so a reused worker stalls in
Nagle's algorithm against Linux's 40 ms delayed ACK: in a one-row
``mapInPandas`` job it waited 41-51 ms for its first batch, against
0.6-0.8 ms over a Unix socket, and the job took 86-93 ms against
45-60 ms (4-core VM). Every query pays this once per Python task.

A ``BrokenPipeError`` from ``pyspark/daemon.py`` at ``spark.stop()`` is
harmless: the JVM closes each idle worker's socket, the worker writes
back the EOF it read, and over a Unix socket that write fails (EPIPE)
where TCP accepted it silently. No task is in flight, and the worker
dies right after; whether it prints first is a race.

The sockets go in a private directory (:func:`socket_dir`), made by
``tempfile.mkdtemp`` (mode 0700) and removed at interpreter exit;
Spark leaves its ``.sock`` files behind. The mode is the access check:
over a Unix socket Spark skips the auth-secret handshake it runs over
TCP, so anyone who can reach a socket can talk to the worker or the
accumulator server. The directory is made under
``tempfile.gettempdir()``, or under ``/tmp`` when a socket path there,
``<dir>/.<uuid4>.sock``, would pass the 107 bytes of ``sun_path``.
Left to itself Spark would use ``java.io.tmpdir``, and a long one (a
checkout-relative temp directory) would break every Python UDF.

``spark.python.sql.dataFrameDebugging.enabled`` is off: it only adds
the Python call site to DataFrame error messages, and it captures that
call site with extra py4j round trips on every ``functions`` call,
which made up most of a query's compile.
"""

from __future__ import annotations

import atexit
import contextlib
import gc
import os
import shutil
import tempfile
import threading

from pyspark.sql import SparkSession

# usable bytes of sockaddr_un.sun_path on Linux (108 with the NUL)
SUN_PATH_MAX = 107
# what Spark appends to the directory: "/." + uuid4 + ".sock"
_SOCK_NAME_LEN = len("/.") + 36 + len(".sock")
_DIR_PREFIX = "lucenenet-uds-"
# mkdtemp appends 8 random characters to the prefix
_DIR_NAME_LEN = len("/") + len(_DIR_PREFIX) + 8

_socket_dir: str | None = None


def _remove_dir(path: str, owner: int) -> None:
    if os.getpid() == owner:  # not in a forked child
        shutil.rmtree(path, ignore_errors=True)


def socket_dir() -> str:
    """The process's private directory for Spark's Python sockets,
    made on first use (again if it was removed) and removed at exit."""
    global _socket_dir
    if _socket_dir is None or not os.path.isdir(_socket_dir):
        parent = tempfile.gettempdir()
        if len(parent) + _DIR_NAME_LEN + _SOCK_NAME_LEN > SUN_PATH_MAX:
            parent = "/tmp"
        _socket_dir = tempfile.mkdtemp(prefix=_DIR_PREFIX, dir=parent)
        atexit.register(_remove_dir, _socket_dir, os.getpid())
    return _socket_dir


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
        .config("spark.python.unix.domain.socket.enabled", "true")
        .config("spark.python.unix.domain.socket.dir", socket_dir())
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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


@contextlib.contextmanager
def py4j_round_trips():
    """Count the commands the calling thread sends to the JVM inside
    the block: ``with py4j_round_trips() as n: ...`` then ``n[0]``.
    Each is one py4j round trip, the unit of a query's compile cost on
    the driver. py4j's finalizer thread, which deletes the Java object
    of each garbage-collected proxy whenever the collector runs, is not
    counted; garbage is collected before the block opens."""
    from py4j.clientserver import ClientServerConnection

    gc.collect()
    count = [0]
    caller = threading.get_ident()
    original = ClientServerConnection.send_command

    def send_command(self, command):
        if threading.get_ident() == caller:
            count[0] += 1
        return original(self, command)

    ClientServerConnection.send_command = send_command
    try:
        yield count
    finally:
        ClientServerConnection.send_command = original
