"""The one row runner (spark/worker.py::map_rows), in-process and
without a JVM: the per-row error boundary of the OCR and media stages,
and a source guard that keeps every package ``mapInPandas`` function on
the runner."""

from __future__ import annotations

import ast
from pathlib import Path

import pandas as pd
import pytest

from ragflow_ocr_spark.config import DEFAULT
from ragflow_ocr_spark.kernels import font5x7, ocr_pipeline, pngcodec
from ragflow_ocr_spark.ops import multimodal as mm
from ragflow_ocr_spark.spark import stages
from ragflow_ocr_spark.spark.worker import map_rows

PACKAGE = Path(stages.__file__).resolve().parents[1]


def _pages() -> pd.DataFrame:
    rows = []
    for i, line in enumerate(["FIRST PAGE 1", "SECOND PAGE 2", "THIRD PAGE 3"]):
        img, _ = font5x7.render_page([line], width=480, height=64, scale=2)
        rows.append((f"u{i}", None, "en", pngcodec.encode_png(img)))
    return pd.DataFrame(rows, columns=["url", "warc_ts", "lang", "html"])


def _raise_on_second_call(monkeypatch, module, name):
    real = getattr(module, name)
    calls = []

    def flaky(*args, **kwargs):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected")
        return real(*args, **kwargs)

    monkeypatch.setattr(module, name, flaky)


def _run(fn, batch: pd.DataFrame) -> pd.DataFrame:
    return pd.concat(list(fn(iter([batch]))))


def test_extract_row_whose_detect_raises_reads_error_internal(monkeypatch):
    pages = _pages()
    clean = _run(stages.extract_stage(DEFAULT), pages)
    _raise_on_second_call(monkeypatch, ocr_pipeline, "detect")
    out = _run(stages.extract_stage(DEFAULT), pages)
    assert list(out["status"]) == ["ok", "error:internal:RuntimeError", "ok"]
    assert tuple(out.iloc[1][["extracted_text", "n_blocks", "engine"]]) == (None, 0, "none")
    assert list(out["url"]) == ["u0", "u1", "u2"]
    pd.testing.assert_frame_equal(out.iloc[[0, 2]], clean.iloc[[0, 2]])


def test_detect_row_whose_detect_raises_has_that_det_status(monkeypatch):
    pages = _pages()
    clean = _run(stages.detect_stage(DEFAULT), pages)
    _raise_on_second_call(monkeypatch, ocr_pipeline, "detect")
    out = _run(stages.detect_stage(DEFAULT), pages)
    assert list(out["det_status"]) == ["ok", "error:internal:RuntimeError", "ok"]
    assert out.iloc[1]["blocks"] == []
    assert len(clean.iloc[1]["blocks"]) > 0
    pd.testing.assert_frame_equal(out.iloc[[0, 2]], clean.iloc[[0, 2]])


def test_recognize_drops_only_the_row_whose_recognize_raises(monkeypatch):
    detected = _run(stages.detect_stage(DEFAULT), _pages())
    clean = _run(stages.recognize_stage(DEFAULT), detected)
    assert set(clean["url"]) == {"u0", "u1", "u2"}
    _raise_on_second_call(monkeypatch, ocr_pipeline, "recognize_crops")
    out = _run(stages.recognize_stage(DEFAULT), detected)
    keep = clean[clean["url"] != "u1"]
    pd.testing.assert_frame_equal(out.reset_index(drop=True), keep.reset_index(drop=True))


def test_thumbnail_luma_row_boundary(monkeypatch):
    """A ValueError from the PNG decoder keeps ``error:decode``; any
    other exception reads ``error:internal:<Class>``, not a failed task."""
    img = font5x7.render_page(["LUMA"], width=32, height=16, scale=1)[0]
    good = pngcodec.encode_png(img)
    real = pngcodec.decode_png

    def decode(data, *args, **kwargs):
        if data == b"boom":
            raise KeyError("injected")
        return real(data, *args, **kwargs)

    monkeypatch.setattr(pngcodec, "decode_png", decode)
    thumbs = pd.DataFrame(
        [(1, good, 32, 16, "ok"), (2, b"not a png", 16, 12, "ok"),
         (3, b"boom", 16, 12, "ok"), (4, None, 0, 0, "error")],
        columns=["media_id", "thumb", "thumb_w", "thumb_h", "status"],
    )
    out = _run(mm.thumbnail_luma_stage(), thumbs)
    assert list(out["media_id"]) == [1, 2, 3, 4]
    assert list(out["status"]) == ["ok", "error:decode", "error:internal:KeyError", "error"]
    assert out.iloc[0]["mean_luma"] == round(float(img.mean()), 3)
    assert tuple(out.iloc[2][["thumb_w", "thumb_h", "mean_luma"]]) == (0, 0, 0.0)


def test_runner_keeps_partial_rows_and_synth_errors_raise():
    def row(n):
        for k in range(n):
            yield n, k
        if n == 2:
            raise ValueError("after two rows")

    batch = pd.DataFrame({"n": [1, 2, 0]})
    fan_out = map_rows(
        "n long, k int", ("n",), row, on_error=lambda status, n: (n, -1)
    )
    out = _run(fan_out, batch)
    assert list(zip(out["n"], out["k"])) == [(1, 0), (2, 0), (2, 1), (2, -1)]
    with pytest.raises(ValueError, match="after two rows"):
        _run(map_rows("n long, k int", ("n",), row), batch)
    empty = _run(fan_out, batch.iloc[:0])
    assert list(empty.columns) == ["n", "k"] and len(empty) == 0


# ------------------------------------------------------------ source guard
def _modules() -> dict[str, ast.Module]:
    return {
        str(p.relative_to(PACKAGE)): ast.parse(p.read_text())
        for p in sorted(PACKAGE.rglob("*.py"))
    }


def _call_name(node: ast.AST) -> str | None:
    if isinstance(node, ast.Call):
        f = node.func
        return f.id if isinstance(f, ast.Name) else getattr(f, "attr", None)
    return None


def _own_returns(fn: ast.FunctionDef) -> list[ast.Return]:
    """The return statements of ``fn`` itself, not of functions nested
    in it."""
    found, todo = [], list(fn.body)
    while todo:
        node = todo.pop()
        if isinstance(node, (ast.FunctionDef, ast.Lambda)):
            continue
        if isinstance(node, ast.Return):
            found.append(node)
        todo.extend(ast.iter_child_nodes(node))
    return found


def test_zip_cache_hook_is_called_only_by_the_runner():
    sites = []
    for name, tree in _modules().items():
        for fn in ast.walk(tree):
            if isinstance(fn, ast.FunctionDef):
                for node in ast.walk(fn):
                    if _call_name(node) == "keep_runtime_zip_caches":
                        sites.append((name, fn.name))
    # the runner's inner function is nested in map_rows: both enclose it
    assert sites == [("spark/worker.py", "map_rows"), ("spark/worker.py", "fn")]


def test_every_package_map_in_pandas_function_comes_from_the_runner():
    """Each function passed to ``mapInPandas`` in the package is a
    ``map_rows(...)`` result: a direct call, a name bound to one in the
    same function, or a stage factory that returns one. So no stage
    builds its own ``pd.DataFrame`` per batch and skips the boundary."""
    modules = _modules()
    factories = {
        fn.name: fn
        for tree in modules.values()
        for fn in ast.walk(tree)
        if isinstance(fn, ast.FunctionDef)
    }

    def from_runner(arg: ast.AST, scope: ast.AST) -> bool:
        name = _call_name(arg)
        if name == "map_rows":
            return True
        if isinstance(arg, ast.Name):
            nodes = list(ast.walk(scope))
            if any(isinstance(n, ast.FunctionDef) and n.name == arg.id for n in nodes):
                return False
            bound = [
                n.value for n in nodes
                if isinstance(n, ast.Assign)
                and any(isinstance(t, ast.Name) and t.id == arg.id for t in n.targets)
            ]
            return bool(bound) and all(_call_name(v) == "map_rows" for v in bound)
        if name in factories:
            returns = _own_returns(factories[name])
            return bool(returns) and all(_call_name(r.value) == "map_rows" for r in returns)
        return False

    calls = set()
    for name, tree in modules.items():
        for scope in ast.walk(tree):
            if not isinstance(scope, ast.FunctionDef):
                continue
            for node in ast.walk(scope):
                if _call_name(node) == "mapInPandas":
                    arg = node.args[0]
                    assert from_runner(arg, scope), (name, scope.name, ast.unparse(arg))
                    calls.add((name, node.lineno))
    # media_df, the 4 media contract queries (a synth generator and
    # 1-2 stages each), pages_df and the 3 pipeline stages
    assert len(calls) >= 14, sorted(calls)
