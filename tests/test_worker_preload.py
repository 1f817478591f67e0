"""Python-worker daemon preload (dirhash_spark.worker_preload).

get_spark points ``spark.python.daemon.module`` at a daemon that
imports numpy/pandas/pyarrow BEFORE forking workers, so every worker
inherits the initialized modules copy-on-write instead of paying the
import chain per process (the r14 "spawn storm" fix — see
OPTIMIZATION_r14.md).  These tests pin (a) that the session the suite
runs under actually carries the conf, and (b) that forked workers
really do see the modules pre-imported — if the daemon module failed
to import, Spark would fall back loudly (worker creation errors), but
a silent regression to the stock daemon would only show up as the
variance class returning, which no functional test catches.

The daemon also fingerprints the zip importers on the worker's path,
so the ``importlib.invalidate_caches()`` PySpark runs at the start of
every task re-reads no unchanged archive.  Both savings are largest on
reused workers, and PySpark exits an Arrow worker whose function leaves
its input unread, so every worker-side function here drains its
iterator.
"""

from __future__ import annotations

import os
import subprocess
import sys
import textwrap


def test_session_uses_preload_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert (
        conf.get("spark.python.daemon.module", "pyspark.daemon")
        == "dirhash_spark.worker_preload"
    )


def test_workers_inherit_heavy_imports(spark):
    def probe(rows):
        import sys

        for _ in rows:
            pass
        return [("pandas" in sys.modules, "numpy" in sys.modules)]

    got = (
        spark.sparkContext.parallelize(range(2), 2).mapPartitions(probe).collect()
    )
    assert got and all(p and n for p, n in got), got


def test_workers_are_reused_across_jobs(spark):
    """Two consecutive 2-partition jobs whose functions drain their input
    run on the same worker processes — the condition the preloaded
    imports and the per-worker fingerprints pay off under.  An Arrow
    function that leaves its input unread gets a new worker every job.
    The jobs run with one extra environment entry, which gives them a
    worker factory of their own: the session's shared idle pool hands
    out its workers first-in first-out, so on it two small jobs may
    land on different (reused) workers."""

    def pid(batches):
        import os

        import pandas as pd

        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [os.getpid()]})

    sc = spark.sparkContext
    sc.environment["DIRHASH_SPARK_REUSE_PROBE"] = "1"
    try:
        df = spark.range(0, 4096, 1, 2).mapInPandas(pid, "pid long")
        first = {r.pid for r in df.collect()}
        second = {r.pid for r in df.collect()}
    finally:
        del sc.environment["DIRHASH_SPARK_REUSE_PROBE"]
    assert len(first) == 2 and first == second, (first, second)


def test_tasks_reread_no_unchanged_zip(spark):
    """Per task, ``importlib.invalidate_caches()`` reads no zip directory:
    the stock 3.11 importer reads one per zip importer on the path
    (16 with pyspark.zip, py4j and the spark-core jar)."""

    def reads(rows):
        import importlib
        import zipimport

        for _ in rows:
            pass
        stock, count = zipimport._read_directory, [0]

        def counted(archive):
            count[0] += 1
            return stock(archive)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = stock
        return [count[0]]

    got = spark.sparkContext.parallelize(range(2), 2).mapPartitions(reads).collect()
    assert got == [0, 0], got


_FINGERPRINT_SCRIPT = textwrap.dedent(
    """
    import importlib, os, sys, zipfile, zipimport

    from dirhash_spark.worker_preload import fingerprint_zip_invalidation

    fingerprint_zip_invalidation()
    work = sys.argv[1]
    archive = os.path.join(work, "mods.zip")
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first_mod.py", "VALUE = 1\\n")
    sys.path.insert(0, archive)
    import first_mod

    assert first_mod.VALUE == 1

    stock, count = zipimport._read_directory, [0]

    def counted(path):
        count[0] += 1
        return stock(path)

    zipimport._read_directory = counted

    # Rewritten zip (other size, later mtime): the new module imports.
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("first_mod.py", "VALUE = 1\\n")
        z.writestr("second_mod.py", "VALUE = 2\\n")
        z.writestr("spare_mod.py", "VALUE = 3\\n")
    st = os.stat(archive)
    os.utime(archive, ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert count[0] >= 1, count
    import second_mod

    assert second_mod.VALUE == 2

    # Unchanged zip: no directory read.
    count[0] = 0
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert count[0] == 0, count

    # Vanished zip: stock behavior, no exception, nothing importable.
    with open(archive, "rb") as f:
        saved = f.read()
    saved_ns = os.stat(archive).st_mtime_ns
    os.remove(archive)
    importlib.invalidate_caches()
    try:
        import spare_mod
    except ImportError:
        pass
    else:
        raise AssertionError("import from a removed zip")

    # Restored with the very fingerprint it had before it vanished: re-read.
    with open(archive, "wb") as f:
        f.write(saved)
    os.utime(archive, ns=(saved_ns, saved_ns))
    importlib.invalidate_caches()
    import spare_mod

    assert spare_mod.VALUE == 3
    print("ok")
    """
)


def test_fingerprinted_invalidation_rereads_changed_zip(tmp_path):
    """In a subprocess, so this process keeps the stock importer."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, PYTHONPATH=root)
    out = subprocess.run(
        [sys.executable, "-c", _FINGERPRINT_SCRIPT, str(tmp_path)],
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert out.returncode == 0 and out.stdout.strip() == "ok", out.stderr


def test_preload_module_is_daemon_compatible():
    """The module must stay importable with no side effects beyond the
    imports (the daemon runs `python -m dirhash_spark.worker_preload`;
    an exception at import time would kill EVERY Python stage)."""
    import importlib
    import zipimport

    import dirhash_spark.worker_preload as wp

    stock = zipimport.zipimporter.invalidate_caches
    importlib.reload(wp)
    assert zipimport.zipimporter.invalidate_caches is stock
    assert stock.__module__ == "zipimport"
