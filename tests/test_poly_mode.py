"""N-gon unclip (``imgeom.unclip_poly``), the miter-join substitute for
the reference's pyclipper offset (``postprocess.py:163-169``) that the
quad path's ``unclip_quad`` runs on. The reference's poly-box mode and
Arabic segment reverse are not mirrored: its OCR never selects them."""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.imgeom import unclip_poly, unclip_quad


def test_unclip_poly_on_quad_equals_unclip_quad():
    quad = np.array([[5, 5], [25, 5], [25, 15], [5, 15]], dtype=np.float64)
    np.testing.assert_allclose(unclip_poly(quad, 1.5), unclip_quad(quad, 1.5))


def test_unclip_poly_hexagon_grows_outward():
    ang = np.linspace(0, 2 * np.pi, 7)[:-1]
    hexa = np.stack([10 + 5 * np.cos(ang), 10 + 5 * np.sin(ang)], axis=1)
    grown = unclip_poly(hexa, 1.5)
    c = hexa.mean(axis=0)
    r0 = np.hypot(*(hexa - c).T)
    r1 = np.hypot(*(grown - c).T)
    assert (r1 > r0).all()
