"""Every JPEG encoder's bytes and every ``decode_jpeg`` array, pinned by
sha256.

The inputs are font5x7 pages of odd size (45×83: neither side is a
multiple of 8 or 16), so every encoder pads its last MCU row and
column and every decoder crops them. The digests were recorded before
the JPEG family's scans were walked through ``imgcodecs.scan_units``
and its marker segments written by one writer each; they must not be
regenerated to make a change pass. A changed digest means an encoder
emits other bytes or the decoder returns other pixels.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import font5x7
from ragflow_ocr_spark.kernels import imgcodecs as ic


def _pages() -> tuple[np.ndarray, np.ndarray]:
    gray, _ = font5x7.render_page(
        ["PINNED JPEG", "BYTES 45X83"], 83, 45, 1, margin=4, line_gap=3
    )
    yy, xx = np.mgrid[: gray.shape[0], : gray.shape[1]]
    rgb = np.stack(
        [gray, (gray // 2 + xx * 3) % 256, (255 - gray // 3 + yy * 5) % 256],
        axis=2,
    ).astype(np.uint8)
    return gray, rgb


def _cases() -> dict[str, bytes]:
    gray, rgb = _pages()
    deep = gray.astype(np.uint16) * 16 + (np.arange(gray.shape[1]) % 16).astype(np.uint16)
    cases = {
        "baseline_gray": ic.encode_jpeg(gray),
        "baseline_rgb": ic.encode_jpeg(rgb),
        "baseline_420": ic.encode_jpeg(rgb, subsample=True),
        "baseline_420_rst3": ic.encode_jpeg(rgb, subsample=True, restart_interval=3),
        "multiscan_gray": ic.encode_jpeg_multiscan(gray),
        "multiscan_420_rst3": ic.encode_jpeg_multiscan(rgb, subsample=True, restart_interval=3),
        "progressive_gray": ic.encode_jpeg_progressive(gray),
        "progressive_420": ic.encode_jpeg_progressive(rgb, subsample=True),
        "cmyk": ic.encode_jpeg_cmyk(rgb),
        "cmyk_ycck": ic.encode_jpeg_cmyk(rgb, ycck=True),
        "arith_gray": ic.encode_jpeg_arith(gray),
        "arith_interleaved_420": ic.encode_jpeg_arith(rgb, subsample=True),
        "arith_noninterleaved": ic.encode_jpeg_arith(rgb, interleave=False),
        "arith_420_rst3": ic.encode_jpeg_arith(rgb, subsample=True, restart_interval=3),
        "arith_progressive_420": ic.encode_jpeg_arith_progressive(rgb, subsample=True),
        "arith_progressive_rst2": ic.encode_jpeg_arith_progressive(gray, restart_interval=2),
        "lossless_rgb_rst5": ic.encode_jpeg_lossless(rgb, 4, restart_interval=5),
        "lossless_p12": ic.encode_jpeg_lossless(deep, 6, point_transform=1, precision=12),
    }
    for predictor in range(1, 8):
        cases[f"lossless_gray_p{predictor}"] = ic.encode_jpeg_lossless(gray, predictor)
    return cases


def _digest(b: bytes) -> str:
    return hashlib.sha256(b).hexdigest()[:24]


def _array_digest(a: np.ndarray) -> str:
    return _digest(f"{a.dtype}{a.shape}".encode() + np.ascontiguousarray(a).tobytes())


# name: (sha256 of the encoder's bytes, sha256 of decode_jpeg's array)
PINNED = {
    "arith_420_rst3": ("af8d7c91777c3cfea574141b", "f86f9dd78a4fdf9d2c07d7dd"),
    "arith_gray": ("1f068f54f73cab98c188a433", "cabb63c623153ed27c80e826"),
    "arith_interleaved_420": ("90d818cd9f273d72fc5edbe8", "f86f9dd78a4fdf9d2c07d7dd"),
    "arith_noninterleaved": ("0bd0b7adbb9bbd386ef24314", "0e62ce93ca70d2dcf8dcbd71"),
    "arith_progressive_420": ("2faf9bd965e23aea38cfb2f1", "f86f9dd78a4fdf9d2c07d7dd"),
    "arith_progressive_rst2": ("17d9a9904b4ea6eccffa7f76", "cabb63c623153ed27c80e826"),
    "baseline_420": ("c600b21afc294452363f79be", "f86f9dd78a4fdf9d2c07d7dd"),
    "baseline_420_rst3": ("905fc6e6c47e1fcb30d3ce78", "f86f9dd78a4fdf9d2c07d7dd"),
    "baseline_gray": ("1767ef5747bf4cc401a5832d", "cabb63c623153ed27c80e826"),
    "baseline_rgb": ("f726ea9857b09451cd73b1cf", "0e62ce93ca70d2dcf8dcbd71"),
    "cmyk": ("222a43719756f7dfa024f86e", "2d704e034b666eba14f2eeb6"),
    "cmyk_ycck": ("d2c55ab1fcbaa7de30cb611c", "485bec7b0a36a81ef836af56"),
    "lossless_gray_p1": ("ab4794b311bc6cabac0f2424", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p2": ("d8fddd371a136d7b8161f313", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p3": ("d8f8e9db1fef7a2476c4fa6d", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p4": ("7f966ef73516b7c5f3cb918d", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p5": ("df3401cf0c3ea2b70f166523", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p6": ("295cf1a7a12733e7e702e3ec", "c1d0b3d29e994658ca791537"),
    "lossless_gray_p7": ("41a2ad752f193310e5bb9de9", "c1d0b3d29e994658ca791537"),
    "lossless_p12": ("fc3ee05417ffd09c16b5f234", "30c309d847c48517e7d950e8"),
    "lossless_rgb_rst5": ("b8b42d6aea6c78c4dd8348d8", "ea348fb945af0f10fdf69f18"),
    "multiscan_420_rst3": ("d369755ce5902afb102de2ff", "f86f9dd78a4fdf9d2c07d7dd"),
    "multiscan_gray": ("1767ef5747bf4cc401a5832d", "cabb63c623153ed27c80e826"),
    "progressive_420": ("03a3ae7cc196b784867463cd", "f86f9dd78a4fdf9d2c07d7dd"),
    "progressive_gray": ("359ceee47db04f8bad497645", "cabb63c623153ed27c80e826"),
}


@pytest.fixture(scope="module")
def cases() -> dict[str, bytes]:
    return _cases()


def test_every_encoder_flavour_is_pinned(cases):
    assert sorted(cases) == sorted(PINNED)


@pytest.mark.parametrize("name", sorted(PINNED))
def test_encoder_bytes_and_decoded_array_equal_the_pinned_digests(cases, name):
    data = cases[name]
    assert (_digest(data), _array_digest(ic.decode_jpeg(data))) == PINNED[name]
