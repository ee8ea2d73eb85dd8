"""In-memory spans around the program's public functions.

A ``Tracer`` records one span per call of a wrapped function: name,
start, end and the span that was open when it started. Self time of a
span is its duration minus the time its direct children cover. Spans
stay in memory and are written as JSON lines by ``dump``.

``kernel_targets`` lists every kernel function wrapped for the
in-process replay, at the module attribute its caller resolves at call
time (``stages.extract_html`` is the name the stage loop calls, while
``ocr_pipeline`` resolves ``pngcodec.decode_png`` through the module).
"""

from __future__ import annotations

import contextlib
import functools
import json
import time
from collections import Counter
from collections.abc import Callable, Iterator

import numpy as np


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple[int, int, str, float, float]] = []
        self._stack: list[list] = []  # [span_id, name, t0, child_s]
        self.calls: Counter[str] = Counter()
        self.total_s: Counter[str] = Counter()
        self.self_s: Counter[str] = Counter()
        self.counts: Counter[str] = Counter()

    @property
    def current(self) -> str | None:
        return self._stack[-1][1] if self._stack else None

    @contextlib.contextmanager
    def span(self, name: str) -> Iterator[None]:
        sid = len(self.spans) + len(self._stack)
        frame = [sid, name, time.perf_counter(), 0.0]
        self._stack.append(frame)
        try:
            yield
        finally:
            t1 = time.perf_counter()
            self._stack.pop()
            dur = t1 - frame[2]
            parent = self._stack[-1] if self._stack else None
            if parent is not None:
                parent[3] += dur
            self.spans.append((sid, parent[0] if parent else -1, name, frame[2], t1))
            self.calls[name] += 1
            self.total_s[name] += dur
            self.self_s[name] += dur - frame[3]

    @contextlib.contextmanager
    def untimed(self) -> Iterator[None]:
        """Bookkeeping that should not count as the open span's self
        time: its duration is booked like a child's, with no span."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            if self._stack:
                self._stack[-1][3] += time.perf_counter() - t0

    def wrap(
        self,
        name: str,
        fn: Callable,
        on_call: Callable[..., None] | None = None,
    ) -> Callable:
        """``fn`` inside a span; ``on_call(result, *args, **kw)`` runs
        after the span closes and is not booked as anyone's self time."""

        @functools.wraps(fn)
        def wrapper(*args, **kw):
            with self.span(name):
                out = fn(*args, **kw)
            if on_call is not None:
                with self.untimed():
                    on_call(out, *args, **kw)
            return out

        return wrapper

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for sid, parent, name, t0, t1 in self.spans:
                f.write(json.dumps({"id": sid, "parent": parent, "name": name, "t0": t0, "t1": t1}) + "\n")


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, Callable]]) -> Iterator[None]:
    """Replace ``owner.attr`` by each wrapper; restore on exit."""
    saved = [(owner, attr, getattr(owner, attr)) for owner, attr, _ in targets]
    try:
        for owner, attr, new in targets:
            setattr(owner, attr, new)
        yield
    finally:
        for owner, attr, old in reversed(saved):
            setattr(owner, attr, old)


class _CountingNet:
    """Forwards to a Net and counts ``run`` attempts (retries show as
    attempts beyond one per ``run_with_retry`` call)."""

    def __init__(self, net, counts: Counter, key: str):
        self._net, self._counts, self._key = net, counts, key

    def run(self, x):
        self._counts[self._key] += 1
        return self._net.run(x)

    def __getattr__(self, attr):
        return getattr(self._net, attr)


def _trailing_zero_cols(batch: np.ndarray) -> int:
    """Zero-padded columns at the right of each (C, H, W) rec input."""
    nonzero = np.any(batch != 0, axis=(1, 2))  # (B, W)
    w = batch.shape[-1]
    last = w - np.argmax(nonzero[:, ::-1], axis=1)  # one past the last inked column
    last[~nonzero.any(axis=1)] = 0
    return int((w - last).sum())


def kernel_targets(tr: Tracer) -> list[tuple[object, str, Callable]]:
    from ragflow_ocr_spark.kernels import ocr_pipeline, pdf, pngcodec
    from ragflow_ocr_spark.spark import stages

    c = tr.counts

    def html_done(out, data, *a, **kw):
        c["html_extract.bytes"] += len(data or b"")

    def decode_done(img, *a, **kw):
        c["pngcodec.decode.pixels"] += int(img.shape[0]) * int(img.shape[1])

    def pages_done(pages, *a, **kw):
        c["pdf.to_images.pages"] += len(pages)

    def boxes_done(out, *a, **kw):
        c["db_postprocess.boxes"] += len(out[0])

    def crop_done(out, *a, **kw):
        c["crop.crops"] += 1

    recognize = ocr_pipeline.recognize_crops

    def recognize_crops(*a, **kw):
        if tr.current == "crop":  # rotation_probe recognizing one crop
            c["crop.probe_rec_calls"] += 1
        with tr.span("ocr_pipeline.recognize"):
            return recognize(*a, **kw)

    orig_retry = ocr_pipeline.run_with_retry

    def run_with_retry(net, x, *a, **kw):
        side = "det" if tr.current == "ocr_pipeline.detect" else "rec"
        key = f"infer.{side}_run"
        counting = _CountingNet(net, c, f"{key}.attempts")
        with tr.span(key):
            out = orig_retry(counting, x, *a, **kw)
        if side == "rec":
            with tr.untimed():
                c["infer.rec_run.rows"] += int(x.shape[0])
                c["infer.rec_run.pixels"] += int(x.shape[0]) * int(x.shape[-2]) * int(x.shape[-1])
                c["infer.rec_run.pad_pixels"] += _trailing_zero_cols(x) * int(x.shape[-2])
        return out

    return [
        (stages, "sniff_payload", tr.wrap("pngcodec.sniff", stages.sniff_payload)),
        (pngcodec, "sniff_payload", tr.wrap("pngcodec.sniff", pngcodec.sniff_payload)),
        (stages, "extract_html", tr.wrap("html_extract", stages.extract_html, html_done)),
        (stages, "extract_payload",
         tr.wrap("ocr_pipeline.extract_payload", stages.extract_payload)),
        (pngcodec, "decode_png", tr.wrap("pngcodec.decode", pngcodec.decode_png, decode_done)),
        (pdf, "pdf_to_images", tr.wrap("pdf.to_images", pdf.pdf_to_images, pages_done)),
        (ocr_pipeline, "detect", tr.wrap("ocr_pipeline.detect", ocr_pipeline.detect)),
        (ocr_pipeline, "det_preprocess",
         tr.wrap("det_preprocess", ocr_pipeline.det_preprocess)),
        (ocr_pipeline, "db_postprocess",
         tr.wrap("db_postprocess", ocr_pipeline.db_postprocess, boxes_done)),
        (ocr_pipeline, "get_rotate_crop_image",
         tr.wrap("crop", ocr_pipeline.get_rotate_crop_image, crop_done)),
        (ocr_pipeline, "rotation_probe", tr.wrap("crop", ocr_pipeline.rotation_probe)),
        (ocr_pipeline, "recognize_crops", recognize_crops),
        (ocr_pipeline, "ctc_greedy_decode",
         tr.wrap("ctc.decode", ocr_pipeline.ctc_greedy_decode)),
        (ocr_pipeline, "run_with_retry", run_with_retry),
    ]

