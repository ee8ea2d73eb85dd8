"""Per-task setup cost of a reused Python worker.

At the start of every task, PySpark's ``worker_util.setup_spark_files``
calls ``importlib.invalidate_caches()`` so that files added with
``addPyFile``/``--py-files`` since the last task become importable. On
CPython 3.11 (and 3.12) ``zipimport.zipimporter.invalidate_caches`` is
eager: every zip finder in ``sys.path_importer_cache`` re-reads its
whole archive directory in Python. A worker holds ~16 such finders over
Spark's own runtime archives (``pyspark.zip`` and finders for 11 of its
package directories, the py4j zip, the spark-core jar), which cost
~140-270 ms of worker CPU on every task before any row is touched.

``keep_runtime_zip_caches`` turns ``invalidate_caches`` into a no-op on
those finders only, per instance: archives whose real path lies under
the real path of ``SPARK_HOME`` (``/opt/spark`` may be a symlink to a
versioned directory), except anything under ``SparkFiles``' root, so
user zips keep Spark's refresh. Spark's runtime archives do not change
while a worker lives. The first task of a worker still pays the
re-read; later tasks in the reused worker (``spark.python.worker.reuse``,
pinned in ``get_spark``) do not. It acts only inside a Python worker;
the driver, where tests and the benchmark's replay call the stages
in-process, is never patched.

CPython 3.13's ``invalidate_caches`` only drops the archive's cache
entry, so there the hook saves little and could go.

Tests: ``tests/test_worker.py`` (finders wrapped in a live worker and no
others, no directory re-read after ``invalidate_caches``, ``addPyFile``
zips still importable on later passes, the driver left unpatched).
"""

from __future__ import annotations

import os
import sys
import zipimport


def _keep_cache() -> None:
    """Instance-level stand-in for ``zipimporter.invalidate_caches``."""


def keep_runtime_zip_caches() -> None:
    """Stop Spark runtime zip finders re-reading their archive on every
    task. Call first in every function passed to ``mapInPandas``.
    Idempotent; a no-op outside a Python worker or without SPARK_HOME."""
    from pyspark.core.files import SparkFiles

    home = os.environ.get("SPARK_HOME")
    if not SparkFiles._is_running_on_worker or not home:
        return
    runtime = os.path.join(os.path.realpath(home), "")
    files = SparkFiles._root_directory
    user = os.path.join(os.path.realpath(files), "") if files else None
    for finder in list(sys.path_importer_cache.values()):
        if not isinstance(finder, zipimport.zipimporter) or "invalidate_caches" in vars(finder):
            continue
        path = os.path.realpath(finder.archive)
        if path.startswith(runtime) and not (user and path.startswith(user)):
            finder.invalidate_caches = _keep_cache
