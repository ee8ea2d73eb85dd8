"""Detection preprocessing chain — semantics of the reference op list
``DetResizeForTest → NormalizeImage → ToCHWImage → KeepKeys``
(``/root/reference/ocr/ocr.py:246-264``), as plain functions (the
reference's reflection-driven op factory ``create_operators``
(``ocr/ocr.py:47-66``) is replaced by explicit composition).
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgeom import resize_bilinear

# ImageNet stats, HWC order — /root/reference/ocr/ocr.py:252-258.
# The reference's scale string '1./255.' is eval()'d there
# (operators.py:118); here it is the parsed constant.
_SCALE = np.float32(1.0 / 255.0)
_MEAN = np.array([0.485, 0.456, 0.406], dtype=np.float32)
_STD = np.array([0.229, 0.224, 0.225], dtype=np.float32)


def resize_for_det(
    img: np.ndarray, limit_side_len: int = 960
) -> tuple[np.ndarray, tuple[int, int, float, float]]:
    """DetResizeForTest resize_type=0 limiting the longer side, the one
    mode the reference's OCR wires (``ocr/operators.py:208-255``):

    - if max(h, w) > limit, scale down so max side == limit;
    - then round each side to the nearest multiple of 32, min 32;
    - tiny-image guard: if h+w < 64, pad to ≥32×32 first
      (``operators.py:177-178,190-194``).

    Returns (resized float32 HWC, (src_h, src_w, ratio_h, ratio_w)).
    """
    src_h, src_w = img.shape[:2]
    if src_h + src_w < 64:
        pad = np.zeros(
            (max(32, src_h), max(32, src_w)) + img.shape[2:], dtype=img.dtype
        )
        pad[:src_h, :src_w] = img
        img = pad
    h, w = img.shape[:2]

    ratio = float(limit_side_len) / max(h, w) if max(h, w) > limit_side_len else 1.0

    resize_h = int(h * ratio)
    resize_w = int(w * ratio)
    # round to nearest ×32, floor 32 — operators.py:243-247
    resize_h = max(int(round(resize_h / 32) * 32), 32)
    resize_w = max(int(round(resize_w / 32) * 32), 32)

    out = resize_bilinear(img, resize_h, resize_w)
    ratio_h = resize_h / float(h)
    ratio_w = resize_w / float(w)
    return out.astype(np.float32), (src_h, src_w, ratio_h, ratio_w)


def normalize_image(img: np.ndarray) -> np.ndarray:
    """(img·scale − mean)/std, HWC float32
    (``/root/reference/ocr/operators.py:100-124``).

    In-place on a fresh float32 buffer — the det input is multiple MB
    per page and temp-array churn is the throughput ceiling on
    memory-bandwidth-limited hosts."""
    out = img.astype(np.float32) if img.dtype != np.float32 else img
    out *= _SCALE
    out -= _MEAN
    out /= _STD
    return out


def to_chw(img: np.ndarray) -> np.ndarray:
    """HWC → CHW view (``/root/reference/ocr/operators.py:127-140``).
    Left non-contiguous: the stub nets read it strided; the real-ONNX
    session path calls np.ascontiguousarray at the session boundary
    (see infer.py)."""
    return img.transpose(2, 0, 1)


def det_preprocess(
    img_rgb: np.ndarray, limit_side_len: int = 960
) -> tuple[np.ndarray, tuple[int, int, float, float]]:
    """Full chain → (NCHW float32 batch of 1, shape info).

    Fast path: a 2-D (grayscale) input stays single-channel end to end
    — resize + normalize with channel-0 ImageNet stats, emitted as
    (1, 1, H, W). Decoded page images are replicated-gray, so the
    3-channel chain would stream 3× the bytes for identical stub-net
    output; the real-ONNX path materializes 3 channels at the session
    boundary (infer.py) where the model requires them.
    """
    if img_rgb.ndim == 2:
        resized, shape_info = resize_for_det(img_rgb, limit_side_len)
        resized = resized if resized.dtype == np.float32 else resized.astype(np.float32)
        resized *= _SCALE
        resized -= _MEAN[0]
        resized /= _STD[0]
        return resized[None, None, ...], shape_info
    resized, shape_info = resize_for_det(img_rgb, limit_side_len)
    norm = normalize_image(resized)
    chw = to_chw(norm)
    return chw[None, ...], shape_info


def denormalize_to_gray(nchw: np.ndarray) -> np.ndarray:
    """Invert normalize for the stub nets: NCHW → HW float in [0,1].

    Uses channel 0 only — decoded page images are replicated-gray RGB,
    so one channel carries full information at a third of the memory
    traffic."""
    c0 = nchw[0, 0]
    return c0 * _STD[0] + _MEAN[0]
