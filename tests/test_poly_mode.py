"""N-gon unclip (``imgeom.unclip_poly``), the miter-join substitute for
the reference's pyclipper offset (``postprocess.py:163-169``) that the
quad path runs on. The reference's poly-box mode and
Arabic segment reverse are not mirrored: its OCR never selects them."""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgeom import unclip_poly


def test_unclip_poly_hexagon_grows_outward():
    ang = np.linspace(0, 2 * np.pi, 7)[:-1]
    hexa = np.stack([10 + 5 * np.cos(ang), 10 + 5 * np.sin(ang)], axis=1)
    grown = unclip_poly(hexa, 1.5)
    c = hexa.mean(axis=0)
    r0 = np.hypot(*(hexa - c).T)
    r1 = np.hypot(*(grown - c).T)
    assert (r1 > r0).all()
