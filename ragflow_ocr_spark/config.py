"""Pipeline configuration.

Mirrors the semantics of the reference's flat config dict
(``/root/reference/ocr/config.py:20-41``) as a frozen dataclass; the
``eval``-able scale string of the reference's NormalizeImage
(``/root/reference/ocr/operators.py:118``) is deliberately replaced by a
plain float. Values are set in code; the reference's ``OCR_*`` env
overrides (``config.py:22``) are not mirrored. Knobs no caller sets are
module constants next to the code that reads them: the HTML block
scoring thresholds in ``kernels/html_extract.py``, the heavy-row size
of the skew spread, ``SALT_HEAVY_BYTES`` in ``spark/pipeline.py``, and
the detection thresholds in ``kernels/ocr_pipeline.py`` and
``kernels/db_postprocess.py``.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any


@dataclass(frozen=True)
class OCRConfig:
    """Thresholds/shapes of the detect→recognize path.

    The recognition, filter and model fields of the reference's
    ``DEFAULT_CONFIG`` (``ocr/config.py:20-41``). Its detection
    thresholds, which no caller sets, are module constants next to the
    code that reads them: the side limit in ``kernels/ocr_pipeline.py``
    and the DB postprocess thresholds in ``kernels/db_postprocess.py``.
    Its mode switches are not mirrored: detection runs the one mode per
    step the reference's OCR wires (``ocr/ocr.py:268-273``). It limits
    the longer side, and its boxes are quads scored by the fast box
    score.
    """

    # recognition (ocr/config.py:39-40, ocr/ocr.py:150-151) —
    # rec_image_shape is [3, 48, 320]; the width seeds each
    # micro-batch's max_wh_ratio at 320/48 (ocr/ocr.py:211)
    rec_image_height: int = 48
    rec_image_width: int = 320
    rec_batch_num: int = 16
    # final line filter (ocr/config.py:31, ocr/ocr.py:566-571)
    drop_score: float = 0.5
    # model routing (ocr/ocr.py:69-145 load_model): serialized model
    # payload per stage — raw bytes or a pyspark Broadcast of bytes
    # (resolved worker-side; see kernels/infer.py). None → default
    # in-process stub nets. Formats: ONNX protobuf (real ort session)
    # and NPZLOGITS1 (recorded-logits replay).
    det_model: Any = None
    rec_model: Any = None


@dataclass(frozen=True)
class PipelineConfig:
    ocr: OCRConfig = field(default_factory=OCRConfig)


DEFAULT = PipelineConfig()
