"""Record the det/rec replay-session fixtures.

Runs the per-document OCR pipeline over a fixed fixture page with
RecordingNet taps installed on the default sessions, then serializes
every (input digest → output) pair to ``tests/goldens/replay_det.npzb``
and ``replay_rec.npzb`` (REPLAY_MAGIC + npz).

This is the offline analogue of dumping real DBNet/CRNN outputs from a
production onnxruntime session: the committed fixtures drive the whole
postprocess chain (DBPostProcess → crop → CTC decode) through
``kernels/infer.ReplayNet`` — i.e. through ``_session_from_bytes`` —
with no model runtime installed. With onnxruntime
available, point RecordingNet at an OrtNet instead and the same test
pins real-model behavior.

Usage: python tools/gen_replay_fixture.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PAGE_LINES = ["REPLAY FIXTURE PAGE", "SECOND LINE 123", "THIRD: 9.87"]
PAGE_W, PAGE_H, PAGE_SCALE = 960, 224, 2
EXPECTED_TEXT = "\n".join(PAGE_LINES)
GOLDEN_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tests", "goldens")


def render_fixture_page():
    from ragflow_ocr_spark.kernels import font5x7

    return font5x7.render_page(PAGE_LINES, width=PAGE_W, height=PAGE_H, scale=PAGE_SCALE)


def record_fixtures() -> tuple[bytes, bytes, str]:
    """(det_replay_bytes, rec_replay_bytes, recognized_text)."""
    from ragflow_ocr_spark.config import OCRConfig
    from ragflow_ocr_spark.kernels import infer
    from ragflow_ocr_spark.kernels.ocr_pipeline import ocr_image
    from ragflow_ocr_spark.kernels.stubnet import DetStubNet, RecStubNet

    img, drawn = render_fixture_page()
    det_tap = infer.RecordingNet(DetStubNet())
    rec_tap = infer.RecordingNet(RecStubNet())
    saved = dict(infer._CACHE)
    try:
        infer._CACHE.clear()
        infer._CACHE["det"] = det_tap
        infer._CACHE["rec"] = rec_tap
        r = ocr_image(img, OCRConfig())
    finally:
        infer._CACHE.clear()
        infer._CACHE.update(saved)
    assert r.text == "\n".join(drawn) == EXPECTED_TEXT, r.text
    return det_tap.replay_bytes(), rec_tap.replay_bytes(), r.text


def main() -> None:
    det_b, rec_b, text = record_fixtures()
    os.makedirs(GOLDEN_DIR, exist_ok=True)
    for name, data in (("replay_det.npzb", det_b), ("replay_rec.npzb", rec_b)):
        with open(os.path.join(GOLDEN_DIR, name), "wb") as f:
            f.write(data)
        print(f"wrote {name}: {len(data)} bytes")
    print(f"recorded text: {text!r}")


if __name__ == "__main__":
    main()
