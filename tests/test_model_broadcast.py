"""Broadcast model-bytes path (M1/S5): driver broadcasts serialized
model bytes; each worker builds + caches ONE session keyed by content
hash; results are identical to the default in-process model."""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pytest

from ragflow_ocr_spark.kernels.infer import get_det_net, record_replay_bytes

GOLDENS = os.path.join(os.path.dirname(__file__), "goldens")


def _replay_det_bytes() -> bytes:
    """The committed recorded-logits det model (NPZLOGITS1)."""
    with open(os.path.join(GOLDENS, "replay_det.npzb"), "rb") as f:
        return f.read()


def test_session_singleton_by_content():
    a = get_det_net(_replay_det_bytes())
    b = get_det_net(_replay_det_bytes())
    assert a is b  # same bytes -> same cached session
    x = np.ones((1, 3, 2, 2), dtype=np.float32)
    y = np.full((1, 1, 2, 2), 0.25, dtype=np.float32)
    c = get_det_net(record_replay_bytes([(x, y)]))
    assert c is not a  # different weights -> different session
    assert np.array_equal(c.run(x), y)


def test_unknown_format_routes_to_onnx_parser():
    # non-NPZLOGITS bytes go down the ONNX route: garbage is a
    # parse error (ValueError); a VALID model with unsupported ops is
    # the op-granular NotImplementedError seam (tests/test_onnx_np.py)
    with pytest.raises((ValueError, NotImplementedError)):
        get_det_net(b"\x08\x01protobufish")


def test_broadcast_reaches_workers_and_matches_default(spark):
    """Round trip: broadcast bytes -> worker-local session -> same
    text as the default net on the replay fixture's page."""
    from ragflow_ocr_spark.config import OCRConfig
    from ragflow_ocr_spark.kernels import pngcodec
    from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload
    from tools.gen_replay_fixture import EXPECTED_TEXT, render_fixture_page

    bc = spark.sparkContext.broadcast(_replay_det_bytes())
    img, _ = render_fixture_page()
    png = pngcodec.encode_png(img)
    assert extract_payload(png).text == EXPECTED_TEXT  # the default net

    def stage(batches):
        from ragflow_ocr_spark.kernels.infer import ReplayNet as Replay
        from ragflow_ocr_spark.kernels.infer import get_det_net as gdn
        from ragflow_ocr_spark.kernels.ocr_pipeline import extract_payload as ep

        net = gdn(bc.value)
        again = gdn(bc)
        ok_singleton = net is again and isinstance(net, Replay)
        for b in batches:
            r = ep(png, OCRConfig(det_model=bc))
            yield pd.DataFrame(
                {
                    "n": [len(b)],
                    "singleton": [ok_singleton],
                    "text": [r.text],
                }
            )

    rows = (
        spark.range(0, 32, 1, 4)
        .mapInPandas(stage, "n int, singleton boolean, text string")
        .collect()
    )
    assert all(r["singleton"] for r in rows)
    texts = {r["text"] for r in rows}
    assert texts == {EXPECTED_TEXT}
