"""keep_runtime_zip_caches (spark/worker.py): in a reused Python worker,
Spark's runtime zip finders keep their archive directory across tasks;
finders over user files (``addPyFile``) and the driver are left alone.
No timing assertions: the tests read the finders themselves."""

from __future__ import annotations

import os
import sys
import uuid
import zipfile
import zipimport

import pandas as pd
import pytest

from ragflow_ocr_spark.config import DEFAULT
from ragflow_ocr_spark.spark.stages import EXTRACT_SCHEMA, extract_stage
from ragflow_ocr_spark.spark.synth import truth_batch


# The functions shipped to workers below are closures with their own
# copy of this check: cloudpickle sends closures by value but
# module-level functions by reference, and this test module is not
# importable in a worker.
def _wrapped(finder) -> bool:
    return "invalidate_caches" in getattr(finder, "__dict__", {})


def test_runtime_zip_finders_are_wrapped_in_worker(spark):
    def probe(_):
        import importlib

        def wrapped(finder) -> bool:
            return "invalidate_caches" in getattr(finder, "__dict__", {})

        batch = pd.DataFrame(
            {"url": ["u"], "warc_ts": [None], "lang": ["en"], "html": [b"<p>worker</p>"]}
        )
        n_out = sum(len(out) for out in extract_stage()(iter([batch])))
        runtime = os.path.join(os.path.realpath(os.environ["SPARK_HOME"]), "")
        finders = [
            (
                repr(f),
                isinstance(f, zipimport.zipimporter)
                and os.path.realpath(f.archive).startswith(runtime),
                wrapped(f),
            )
            for f in sys.path_importer_cache.values()
        ]
        kept = [
            (f, f._files)
            for f in sys.path_importer_cache.values()
            if isinstance(f, zipimport.zipimporter) and wrapped(f)
        ]
        importlib.invalidate_caches()
        yield n_out, finders, [f._files is files for f, files in kept]

    [(n_out, finders, same_files)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    assert n_out == 1
    runtime = [name for name, is_runtime, _ in finders if is_runtime]
    if not runtime:
        pytest.skip("the worker has no Spark runtime zip finders (pip-only install)")
    assert [name for name, is_runtime, w in finders if is_runtime and not w] == []
    assert [name for name, is_runtime, w in finders if w and not is_runtime] == []
    # the directory was not re-read: the very same dict survives
    assert len(same_files) == len(runtime) and all(same_files)


def test_add_py_file_zips_stay_importable_across_passes(spark, tmp_path):
    sc = spark.sparkContext
    pages = spark.range(0, 8, 1, 4).selectExpr(
        "concat('u', id) AS url",
        "CAST(NULL AS TIMESTAMP) AS warc_ts",
        "'en' AS lang",
        "CAST(concat('<article><p>', repeat('real content sentence here ', 5),"
        " '</p></article>') AS BINARY) AS html",
    )

    def run_pass(module: str | None) -> set[tuple]:
        stage = extract_stage()

        def fn(batches):
            import importlib

            for out in stage(batches):
                if module is None:
                    value, wrapped = "", False
                else:
                    mod = importlib.import_module(module)
                    value = mod.VALUE
                    wrapped = "invalidate_caches" in vars(mod.__loader__)
                yield pd.DataFrame(
                    {"status": out["status"], "value": value, "wrapped": wrapped}
                )

        rows = pages.mapInPandas(fn, "status string, value string, wrapped boolean")
        return {tuple(r) for r in rows.collect()}

    def add_zip() -> tuple[str, str]:
        name = f"userzip_{uuid.uuid4().hex}"
        value = uuid.uuid4().hex
        path = tmp_path / f"{name}.zip"
        with zipfile.ZipFile(path, "w") as z:
            z.writestr(f"{name}.py", f"VALUE = {value!r}\n")
        sc.addPyFile(str(path))
        return name, value

    assert run_pass(None) == {("ok", "", False)}
    first, first_value = add_zip()
    assert run_pass(first) == {("ok", first_value, False)}
    second, second_value = add_zip()
    assert run_pass(second) == {("ok", second_value, False)}
    assert run_pass(first) == {("ok", first_value, False)}


def test_driver_finders_stay_unpatched(monkeypatch):
    # a runtime archive finder planted in the driver's cache: the hook
    # must leave it alone outside a worker
    lib = os.path.join(os.environ.get("SPARK_HOME", ""), "python", "lib")
    for name in sorted(os.listdir(lib)) if os.path.isdir(lib) else []:
        if name.endswith(".zip"):
            path = os.path.join(lib, name)
            monkeypatch.setitem(sys.path_importer_cache, path, zipimport.zipimporter(path))
    batch = truth_batch([0, 1, 2])[["url", "warc_ts", "lang", "html"]]
    out = pd.concat(extract_stage(DEFAULT)(iter([batch])))
    assert list(out.columns) == [c.split()[0] for c in EXTRACT_SCHEMA.split(", ")]
    assert [repr(f) for f in sys.path_importer_cache.values() if _wrapped(f)] == []
