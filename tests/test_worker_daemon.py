"""The engine's PySpark worker daemon: zipimporter caches are re-read
only when their archive changes, and the session's Python workers run
under it."""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# runs in a fresh interpreter so this process's zipimport stays unpatched
STAMP_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from lucenenet_spark.worker_daemon import install

    archive = sys.argv[1]

    def write(value):
        with zipfile.ZipFile(archive, "w") as z:
            z.writestr("zpkg/__init__.py", f"VALUE = {value!r}\\n")

    write(1)
    sys.path.insert(0, archive)
    import zpkg
    assert zpkg.VALUE == 1

    reads = []
    real = zipimport._read_directory
    zipimport._read_directory = lambda path: reads.append(path) or real(path)
    install()
    install()  # idempotent: one wrapper, not a wrapper of a wrapper
    importlib.invalidate_caches()  # first call stamps every importer
    reads.clear()
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == [], reads

    write("rewritten")  # new size and mtime
    importlib.invalidate_caches()
    assert archive in reads, reads
    del sys.modules["zpkg"]
    import zpkg
    assert zpkg.VALUE == "rewritten", zpkg.VALUE
    print("OK")
    """
)


def test_unchanged_archive_not_reread_changed_archive_reread(tmp_path):
    pythonpath = os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p)
    env = dict(os.environ, PYTHONPATH=pythonpath)
    out = subprocess.run(
        [sys.executable, "-c", STAMP_SCRIPT, str(tmp_path / "zpkg.zip")],
        capture_output=True, text=True, env=env, timeout=120,
    )
    assert out.returncode == 0 and out.stdout.strip() == "OK", out.stderr


def test_session_workers_run_under_stamped_daemon(spark):
    def report(batches):
        import zipimport

        importers = [
            v for v in sys.path_importer_cache.values()
            if isinstance(v, zipimport.zipimporter)
        ]
        stamps_ok = all(
            getattr(z, "_lucenenet_stamp", None)
            == (os.stat(z.archive).st_mtime_ns, os.stat(z.archive).st_size)
            for z in importers
        )
        wrapped = getattr(zipimport.zipimporter.invalidate_caches, "_stamped", False)
        for _ in batches:
            yield pd.DataFrame(
                {"wrapped": [wrapped], "importers": [len(importers)], "stamps_ok": [stamps_ok]}
            )

    rows = (
        spark.range(1, numPartitions=1)
        .mapInPandas(report, "wrapped boolean, importers long, stamps_ok boolean")
        .collect()
    )
    assert len(rows) == 1
    assert rows[0].wrapped and rows[0].importers > 0 and rows[0].stamps_ok, rows
