"""Python-worker daemon with the heavyweight imports preloaded.

Spark's Python workers are forked from a per-executor daemon process
(``pyspark.daemon``).  A freshly forked worker that hits an
Arrow/pandas stage pays the numpy+pandas+pyarrow import chain at first
use — measured ~1 s wall / ~3 s sys EACH on this box, and the first
task wave spawns one worker per core, so the imports land concurrently
and serialize on kernel time (the "spawn storm" behind the bimodal
1x→3x swings recorded for dedup_verbatim_runs / pipeline_neardup_e2e /
dedup_containment in OPTIMIZATION_r14.md).

Importing those modules ONCE in the daemon parent — before it forks —
makes every forked worker inherit the already-initialized modules
through copy-on-write memory: guide §4.3 "heavyweight init once per
task" applied one level earlier, once per EXECUTOR.  At cluster scale
the same preload amortizes worker churn across thousands of task
slots; nothing here is local-mode-specific.

The daemon's second job is to stop every task from re-reading the zip
archives on the worker's path.  PySpark's ``setup_spark_files`` calls
``importlib.invalidate_caches()`` at the start of every Python task,
and on CPython 3.11 that makes each ``zipimporter`` eagerly re-parse
its archive's whole central directory (3.12 made it lazy,
gh-103200).  A worker has about 16 such importers (``pyspark.zip``
and its sub-packages, the py4j zip, the spark-core jar): ~0.24 s of
CPU per task, half the task on a 0.5 s read+hash run.  When run as the
daemon, this module wraps ``zipimporter.invalidate_caches`` so an
importer re-reads its archive only when the archive's
``(st_size, st_mtime_ns)`` differs from the fingerprint it last read
(the fingerprint ``catalog.table_files`` uses), then invalidates once
in the parent so every forked worker inherits the fingerprints.  A
changed zip is still re-read; a missing one takes the stock path.
Sessions built with the stock daemon (a host harness that sets no
``spark.python.daemon.module``) keep paying the cost.

Wired up by ``session.get_spark`` via ``spark.python.daemon.module``
(a plain Spark conf, read at SparkContext start).  The import failures
are tolerated so a slim environment (no pandas) degrades to exactly
the stock daemon behavior.  Importing the module has no side effect
beyond those imports; the wrap is installed only under ``__main__``.
"""

from __future__ import annotations

import importlib

for _mod in ("numpy", "pandas", "pyarrow", "pyarrow.parquet"):
    try:  # pragma: no cover - trivial import loop
        importlib.import_module(_mod)
    except Exception:
        pass


def fingerprint_zip_invalidation() -> None:
    """Make ``zipimporter.invalidate_caches`` re-read an archive only
    when its ``(st_size, st_mtime_ns)`` changed since that importer's
    last read.  Blind spot, as for table fingerprints: a same-size
    rewrite within one filesystem timestamp tick."""
    import os
    import zipimport

    stock = zipimport.zipimporter.invalidate_caches

    def invalidate_caches(self):
        try:
            st = os.stat(self.archive)
        except OSError:
            self._read_fingerprint = None
            return stock(self)
        fingerprint = (st.st_size, st.st_mtime_ns)
        if getattr(self, "_read_fingerprint", None) != fingerprint:
            stock(self)
            self._read_fingerprint = fingerprint

    zipimport.zipimporter.invalidate_caches = invalidate_caches


if __name__ == "__main__":
    fingerprint_zip_invalidation()
    import pyspark.daemon

    importlib.invalidate_caches()  # fingerprint every importer before forking
    pyspark.daemon.manager()
