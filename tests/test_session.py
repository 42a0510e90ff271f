"""``get_spark``'s Python boundary, in a fresh interpreter per case: the
workers talk over Unix sockets in a private 0700 directory whose socket
paths fit ``sun_path`` even under a long ``TMPDIR``, call-site capture
is off, workers fork from the engine daemon, and the directory is gone
once the interpreter exits."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile
import textwrap

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SESSION_SCRIPT = textwrap.dedent(
    """
    import json, os, stat

    import pandas as pd
    from pyspark.errors.utils import is_debugging_enabled

    from lucenenet_spark.session import get_spark

    spark = get_spark(app_name="session-test", master="local[1]", shuffle_partitions=1)
    conf = spark.sparkContext.getConf()
    sock_dir = conf.get("spark.python.unix.domain.socket.dir")

    def report(batches):
        import zipimport

        stamped = getattr(zipimport.zipimporter.invalidate_caches, "_stamped", False)
        uds = os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower()
        for _ in batches:
            yield pd.DataFrame({"stamped": [stamped], "uds": [uds]})

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "stamped boolean, uds string")
        .collect()
    )
    out = {
        "dir": sock_dir,
        "mode": stat.S_IMODE(os.stat(sock_dir).st_mode),
        "uds": conf.get("spark.python.unix.domain.socket.enabled"),
        "debugging": spark.conf.get("spark.python.sql.dataFrameDebugging.enabled"),
        "debugging_active": is_debugging_enabled(),
        "rows": [r.asDict() for r in rows],
        "socks": [os.path.join(sock_dir, f) for f in os.listdir(sock_dir)],
    }
    spark.stop()
    print("RESULT " + json.dumps(out))
    """
)


@pytest.fixture(params=["short", "long"])
def temp_root(request, tmp_path):
    """A TMPDIR with room for the socket directory, or one of 90 bytes
    (under pytest's own temp directory) that has none."""
    if request.param == "long":
        long = os.path.join(str(tmp_path), "d" * (90 - len(str(tmp_path)) - 1))
        os.makedirs(long)
        assert len(long) == 90
        yield long
        return
    short = tempfile.mkdtemp(prefix="lns-", dir="/tmp")
    yield short
    shutil.rmtree(short, ignore_errors=True)


def test_session_python_boundary(temp_root):
    short = len(temp_root) < 90
    pythonpath = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    env = dict(os.environ, PYTHONPATH=pythonpath, TMPDIR=temp_root, SPARK_DRIVER_MEMORY="1g")
    proc = subprocess.run(
        [sys.executable, "-c", SESSION_SCRIPT],
        capture_output=True, text=True, env=env, timeout=300,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    out = json.loads(lines[-1][len("RESULT "):])

    assert out["uds"] == "true"
    assert out["mode"] == 0o700
    # a 90-byte TMPDIR leaves no room for "/<dir>/.<uuid4>.sock"
    assert os.path.dirname(out["dir"]) == (temp_root if short else "/tmp")
    socks = [p for p in out["socks"] if p.endswith(".sock")]
    assert socks, out
    assert all(len(p.encode()) <= 107 for p in socks), socks
    assert out["debugging"] == "false" and out["debugging_active"] is False
    assert out["rows"] == [{"stamped": True, "uds": "true"}]
    # Spark leaves its .sock files behind; the engine removes the directory
    assert not os.path.exists(out["dir"])
