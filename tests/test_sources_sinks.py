"""Sources (binaryFile dir scan) and sinks (JSON/text/visualization)."""

from __future__ import annotations

import json
import os

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import font5x7, pngcodec
from ragflow_ocr_spark.spark.pipeline import extract
from ragflow_ocr_spark.spark.sinks import (
    draw_boxes,
    save_visualization,
    write_json,
    write_text,
)
from ragflow_ocr_spark.spark.sources import read_image_dir


@pytest.fixture(scope="module")
def image_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("imgs")
    expected = {}
    for i in range(3):
        img, drawn = font5x7.render_page([f"FILE {i} CONTENT"], 960, 96, 2)
        p = d / f"page{i}.png"
        p.write_bytes(pngcodec.encode_png(img))
        expected[str(p)] = "\n".join(drawn)
    (d / "ignored.txt").write_text("not an image")
    return d, expected


def test_binaryfile_source_to_pipeline(spark, image_dir):
    d, expected = image_dir
    pages = read_image_dir(spark, str(d))
    assert pages.count() == 3  # .txt filtered by glob
    out = {r["url"]: r["extracted_text"] for r in extract(pages).collect()}
    assert {u.replace("file:", ""): t for u, t in out.items()} == expected


def test_json_sink(spark, tmp_path, image_dir):
    d, expected = image_dir
    out = extract(read_image_dir(spark, str(d)))
    path = str(tmp_path / "json_out")
    write_json(out, path, partitions=1)
    rows = []
    for f in os.listdir(path):
        if f.endswith(".json"):
            with open(os.path.join(path, f)) as fh:
                rows += [json.loads(line) for line in fh]
    assert len(rows) == 3
    assert {r["status"] for r in rows} == {"ok"}


def test_text_sink(spark, tmp_path, image_dir):
    d, _ = image_dir
    out = extract(read_image_dir(spark, str(d)))
    path = str(tmp_path / "txt_out")
    write_text(out, path)
    lines = []
    for f in os.listdir(path):
        if f.startswith("part-"):
            lines += open(os.path.join(path, f)).read().splitlines()
    assert len(lines) == 3
    assert all("\t" in line for line in lines)


def test_draw_boxes_overlay(tmp_path):
    img = np.full((50, 80), 255, dtype=np.uint8)
    boxes = [[[10, 10], [60, 10], [60, 30], [10, 30]]]
    out = draw_boxes(img, boxes, val=0)
    assert out[10, 10] == 0 and out[10, 35] == 0 and out[20, 10] == 0
    assert img[10, 10] == 255  # original untouched
    # the visualization sink writes the same overlay as a PNG
    path = str(tmp_path / "vis.png")
    save_visualization(img, boxes, path)
    with open(path, "rb") as f:
        np.testing.assert_array_equal(pngcodec.decode_png(f.read()), out)
