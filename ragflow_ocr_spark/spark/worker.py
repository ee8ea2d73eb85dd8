"""The one row runner behind every ``mapInPandas`` function, and the
per-task setup cost of a reused Python worker.

``map_rows`` turns a row function into the function passed to
``mapInPandas``. It owns the batch loop, the per-row error boundary
and the output frame, whose columns come from the stage's schema
string. Every stage and synth generator in the package goes through
it, so ``keep_runtime_zip_caches`` below has this one call site.

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
zips still importable on later passes, the driver left unpatched) and
``tests/test_row_runner.py`` (the row boundary of the OCR and media
stages; every package ``mapInPandas`` function built by ``map_rows``).
"""

from __future__ import annotations

import os
import sys
import zipimport
from collections.abc import Callable, Iterable, Iterator

import numpy as np
import pandas as pd


def _keep_cache() -> None:
    """Instance-level stand-in for ``zipimporter.invalidate_caches``."""


def keep_runtime_zip_caches() -> None:
    """Stop Spark runtime zip finders re-reading their archive on every
    task. ``map_rows`` calls it at the start of each task.
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


def _row_status(exc: Exception, statuses: dict[type, str]) -> str:
    """The status of a row whose row function raised ``exc``: the
    stage's own status for the first matching class in ``statuses``,
    else ``error:internal:<ExceptionClass>``."""
    for cls, status in statuses.items():
        if isinstance(exc, cls):
            return status
    return f"error:internal:{type(exc).__name__}"


def map_rows(
    schema: str,
    inputs: tuple[str, ...],
    row: Callable[..., Iterable[tuple]],
    *,
    keep: tuple[str, ...] = (),
    on_error: Callable[..., tuple | None] | None = None,
    statuses: dict[type, str] | None = None,
) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The ``mapInPandas`` function that calls ``row(*values)`` on the
    ``inputs`` columns of each row of each batch.

    ``row`` yields output tuples, one per output row (one for a 1:1
    stage, any number for a fan-out stage), holding the columns of
    ``schema`` that are not in ``keep``, in schema order. ``keep``
    names columns copied from the batch as they are, for 1:1 stages
    only, so they are never re-boxed row by row.

    The per-row boundary: when ``row`` raises, the tuples it yielded
    before stay, and ``on_error(status, *values)`` gives the row's error
    tuple (None: no row) with ``status`` from ``_row_status``. Without
    ``on_error`` the exception fails the task, which is what the synth
    generators want: they build the repo's own data."""
    from ragflow_ocr_spark.spark.stages import schema_columns  # stages imports this module

    names = [name for name, _ in schema_columns(schema)]
    made = [name for name in names if name not in keep]
    statuses = statuses or {}

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        keep_runtime_zip_caches()
        for pdf in batches:
            rows: list[tuple] = []
            for values in zip(*(pdf[c] for c in inputs)):
                try:
                    rows.extend(row(*values))
                except Exception as exc:
                    if on_error is None:
                        raise
                    err = on_error(_row_status(exc, statuses), *values)
                    if err is not None:
                        rows.append(err)
            # column-wise: a dict from zip(*rows) builds the frame about
            # twice as fast as pd.DataFrame(rows)
            columns = zip(*rows) if rows else [np.empty(0, object)] * len(made)
            cols = dict(zip(made, columns))
            yield pd.DataFrame({n: pdf[n] if n in keep else cols[n] for n in names})

    return fn
