"""Multimodal stage tests — schema, batch shape, per-row error
semantics, and constructive feature truth for the real codecs."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from ragflow_ocr_spark.ops import multimodal as mm


@pytest.fixture(scope="module")
def media(spark):
    df = mm.media_df(spark, 30, partitions=3).cache()
    df.count()
    yield df
    df.unpersist()


def test_media_table_shape(media):
    assert media.count() == 30
    kinds = dict(
        (r["kind"], r["count"]) for r in media.groupBy("kind").count().collect()
    )
    assert kinds == {"image": 10, "audio": 10, "video": 10}


def test_image_features(media, spark):
    imgs = media.where(F.col("kind") == "image")
    out = imgs.mapInPandas(mm.image_features_stage(), schema=mm.IMAGE_FEATURES_SCHEMA)
    rows = out.collect()
    assert len(rows) == 10
    for r in rows:
        assert r["status"] == "ok"
        assert (r["width"], r["height"]) == (64, 48)
        assert 0 < r["mean_luma"] < 255


def test_image_features_truth(media, spark):
    """Feature values equal the direct numpy computation (constructive)."""
    imgs = media.where(F.col("kind") == "image").limit(3).collect()
    out = {
        r["media_id"]: r
        for r in spark.createDataFrame(imgs)
        .mapInPandas(mm.image_features_stage(), schema=mm.IMAGE_FEATURES_SCHEMA)
        .collect()
    }
    from ragflow_ocr_spark.kernels import pngcodec

    for r in imgs:
        img = pngcodec.decode_png(bytes(r["payload"]))
        assert out[r["media_id"]]["mean_luma"] == round(float(img.mean()), 6)


def test_codec_routes_are_row_errors_not_task_failures(spark):
    """jpeg/bmp/tiff/webp are REAL decode routes now — a valid JPEG
    succeeds, malformed bytes (including a garbage lossy-VP8 chunk)
    become decode-error rows. None of them may raise out of the
    stage."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs

    good_jpeg = imgcodecs.encode_jpeg(
        np.full((16, 24), 90, dtype=np.uint8), quality=95
    )
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(good_jpeg), "jpeg", 24, 16, 0),
            (2, "image", bytearray(b"\xff\xd8\xff\xe0jpeg"), "jpeg", 0, 0, 0),
            # well-formed container whose codec chunk is lossy VP8 —
            # the one remaining unbundled image codec (VP8L decodes)
            (
                3,
                "image",
                bytearray(
                    b"RIFF\x10\x00\x00\x00WEBPVP8 \x04\x00\x00\x00\x00\x00\x00\x00"
                ),
                "webp",
                0,
                0,
                0,
            ),
        ],
        mm.MEDIA_SCHEMA,
    )
    rows = {
        r["media_id"]: r
        for r in df.mapInPandas(
            mm.image_features_stage(), schema=mm.IMAGE_FEATURES_SCHEMA
        ).collect()
    }
    assert rows[1]["status"] == "ok" and abs(rows[1]["mean_luma"] - 90) < 2
    assert rows[2]["status"].startswith("error")
    assert rows[3]["status"] == "error:decode"


def test_thumbnail_roundtrip(media, spark):
    imgs = media.where(F.col("kind") == "image")
    out = imgs.mapInPandas(mm.thumbnail_stage(16), schema=mm.THUMB_SCHEMA).collect()
    from ragflow_ocr_spark.kernels import pngcodec

    for r in out:
        assert r["status"] == "ok"
        th = pngcodec.decode_png(bytes(r["thumb"]))
        assert max(th.shape[:2]) == 16


def test_audio_features(media):
    auds = media.where(F.col("kind") == "audio")
    out = auds.mapInPandas(mm.audio_features_stage(), schema=mm.AUDIO_FEATURES_SCHEMA)
    for r in out.collect():
        assert r["status"] == "ok"
        assert r["n_samples"] == 8000
        # 0.5-amplitude sine: rms ≈ 0.3535, many zero crossings
        assert 0.3 < r["rms"] < 0.4
        assert r["zero_crossings"] > 50


def test_frame_sampling_explodes(media):
    vids = media.where(F.col("kind") == "video")
    out = vids.mapInPandas(
        mm.frame_sample_stage(every_k=2), schema=mm.FRAME_SAMPLE_SCHEMA
    )
    rows = out.collect()
    # 8 frames, every 2nd -> 4 per video × 10 videos
    assert len(rows) == 40
    assert {r["frame_idx"] for r in rows} == {0, 2, 4, 6}
    assert all(r["status"] == "ok" for r in rows)


def test_contract_queries_match_analytic_truth(spark):
    """The multimodal contract queries vs their closed forms (the same
    expressions the DuckDB oracles compute) at sf0.001."""
    sf = "/root/testdata/sf0.001"

    rows = {r["media_id"]: r for r in mm.q_media_image_stats(spark, sf).collect()}
    for did, r in rows.items():
        assert (r["width"], r["height"]) == (64, 48)
        if did % 4 == 1:  # progressive-JPEG constant-value family
            v = 128 + 3 * ((did * 5 + 7) % 42 - 21)
            assert r["mean_luma"] == float(v)
            assert r["std_luma"] == 0.0
        elif did % 16 == 15:  # lossy VP8 WebP flat family (BT.601 map)
            y = 64 + did % 128
            assert r["mean_luma"] == float((298 * (y - 16) + 128) >> 8)
            assert r["std_luma"] == 0.0
        elif did % 16 == 11:  # HEIC two-tone (clipped BT.601 map)
            bt = lambda t: min(255, max(0, (298 * (t - 16) + 128) >> 8))  # noqa: E731
            a, v = bt(did % 256), bt((did * 7 + 13) % 256)
            assert r["mean_luma"] == round((a + v) / 2.0, 6)
            assert r["std_luma"] == round(abs(a - v) / 2.0, 6)
        else:  # two-tone PNG (even, Adam7 for %4==0) / GIF (%16==3)
            a, v = did % 256, (did * 7 + 13) % 256
            assert r["mean_luma"] == round((a + v) / 2.0, 6)
            assert r["std_luma"] == round(abs(a - v) / 2.0, 6)
        assert r["status"] == "ok"

    rows = {r["media_id"]: r for r in mm.q_media_audio_features(spark, sf).collect()}
    for did, r in rows.items():
        if did % 4 == 3:  # WAV silence, MP3 frame-sized sample counts
            spf = 1152 if did % 8 == 3 else 576
            assert r["n_samples"] == spf * (2 + did % 3)
            assert r["rms"] == 0.0 == r["peak"]
            assert r["zero_crossings"] == 0
        elif did % 4 == 1:  # WAV silence, 128-sample multiples
            assert r["n_samples"] == 128 * (1 + did % 3)
            assert r["rms"] == 0.0 == r["peak"]
            assert r["zero_crossings"] == 0
        else:
            amp = (2 * (did % 8191) + 1) / 32768.0
            assert r["rms"] == round(amp, 6) == r["peak"]
            assert r["zero_crossings"] == 7999 and r["n_samples"] == 8000
        assert r["status"] == "ok"

    rows = mm.q_media_frame_sample(spark, sf).collect()
    assert rows
    for r in rows:
        assert r["frame_idx"] % 2 == 0
        if (r["media_id"] % 8 == 7 or r["media_id"] % 16 == 11
                or r["media_id"] % 16 == 13 or r["media_id"] % 16 == 9):
            # animated lossy WebP / V_VP8 webm / hvc1 mp4
            # → BT.601 map
            y = 64 + (r["media_id"] * 31 + r["frame_idx"] * 7) % 128
            assert r["mean_luma"] == float((298 * (y - 16) + 128) >> 8)
        else:
            assert r["mean_luma"] == float(
                (r["media_id"] * 31 + r["frame_idx"] * 7) % 256
            )

    rows = mm.q_media_thumbnail(spark, sf).collect()
    assert rows
    for r in rows:
        assert (r["thumb_w"], r["thumb_h"]) == (16, 12)
        assert r["mean_luma"] == float((r["media_id"] * 5 + 7) % 256)


def test_audio_stage_decodes_wav_container(spark):
    """A WAV-wrapped payload must produce the same features as the
    identical raw PCM payload — the container route is real, not a
    stub (kernels/wavcodec.py)."""
    import numpy as np

    from ragflow_ocr_spark.kernels import wavcodec
    from ragflow_ocr_spark.ops import multimodal as mm

    rng = np.random.default_rng(11)
    pcm_bytes = mm.make_audio_payload(rng)
    pcm = np.frombuffer(pcm_bytes, dtype="<i2")
    rows = [
        (0, "audio", bytearray(pcm_bytes), "pcm_s16le", 0, 0, 16000),
        (1, "audio", bytearray(wavcodec.encode_wav(pcm)), "wav", 0, 0, 16000),
        (2, "audio", bytearray(b"RIFF1234WAVEjunk"), "wav", 0, 0, 16000),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in df.mapInPandas(
            mm.audio_features_stage(), schema=mm.AUDIO_FEATURES_SCHEMA
        ).collect()
    }
    assert out[0]["status"] == out[1]["status"] == "ok"
    assert out[0]["rms"] == out[1]["rms"]
    assert out[0]["zero_crossings"] == out[1]["zero_crossings"]
    assert out[0]["n_samples"] == out[1]["n_samples"]
    assert out[2]["status"] == "error"  # malformed WAV -> error row


def test_audio_stage_names_compressed_audio_unsupported(spark):
    """Ogg, FLAC and MP3 payloads have no bundled decoder: each becomes
    an error:unsupported_codec row instead of being misread as raw PCM,
    while a raw PCM row in the same batch stays ok."""
    pcm = mm.make_audio_payload(np.random.default_rng(12))
    rows = [
        (0, "audio", bytearray(b"fLaC\x00\x00\x00\x22" + b"\x00" * 40), "flac", 0, 0, 16000),
        (1, "audio", bytearray(b"ID3\x04\x00" + b"\x00" * 40), "mp3", 0, 0, 44100),
        # bare MPEG-1 Layer III frame header, no ID3 tag
        (2, "audio", bytearray(b"\xff\xfb\x90\x00" + b"\x00" * 40), "mp3", 0, 0, 44100),
        (3, "audio", bytearray(b"OggS\x00\x02" + b"\x00" * 40), "vorbis", 0, 0, 16000),
        (4, "audio", bytearray(pcm), "pcm_s16le", 0, 0, 16000),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = {
        r["media_id"]: r
        for r in df.mapInPandas(
            mm.audio_features_stage(), schema=mm.AUDIO_FEATURES_SCHEMA
        ).collect()
    }
    for mid in range(4):
        assert out[mid]["status"] == "error:unsupported_codec", mid
        assert out[mid]["n_samples"] == 0
    assert out[4]["status"] == "ok" and out[4]["n_samples"] == len(pcm) // 2


def test_frame_stage_decodes_avi_mjpeg(spark):
    """An MJPEG AVI payload goes through the SAME frame-sampling stage
    as the MOCKV1 container — the video demux seam is real for the
    RIFF/MJPEG subset (encode_avi_mjpeg writes it, real MJPEG AVIs
    parse too since unknown chunks are skipped)."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs
    from ragflow_ocr_spark.ops import multimodal as mm

    frames = []
    for k in range(6):
        img = np.full((24, 32), 40 * k, dtype=np.uint8)
        frames.append(imgcodecs.encode_jpeg(img, quality=95))
    avi = mm.encode_avi_mjpeg(frames)
    rows = [
        (0, "video", bytearray(avi), "mjpeg", 32, 24, 0),
        (1, "video", bytearray(b"RIFF\x00\x00\x00\x00AVI garbage"), "mjpeg", 0, 0, 0),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = df.mapInPandas(
        mm.frame_sample_stage(every_k=2), schema=mm.FRAME_SAMPLE_SCHEMA
    ).collect()
    ok = sorted(
        (r["frame_idx"], r["mean_luma"]) for r in out if r["media_id"] == 0
    )
    assert [i for i, _ in ok] == [0, 2, 4]  # every 2nd of 6 frames
    # constant frames: JPEG round-trips the constant nearly exactly
    for (idx, luma), want in zip(ok, (0.0, 80.0, 160.0)):
        assert abs(luma - want) < 2.0, (idx, luma)
    assert [r["status"] for r in out if r["media_id"] == 1] == ["error"]


def test_avi_walker_skips_header_lists():
    """A realistic AVI layout (hdrl LIST + junk before movi) yields
    exactly the video chunks."""
    import struct

    from ragflow_ocr_spark.ops import multimodal as mm

    fr = b"\xff\xd8FAKEJPEG"
    hdrl = b"LIST" + struct.pack("<I", 8) + b"hdrlavih"
    junk = b"JUNK" + struct.pack("<I", 4) + b"\x00\x00\x00\x00"
    movi = b"00dc" + struct.pack("<I", len(fr)) + fr
    movi_list = b"LIST" + struct.pack("<I", 4 + len(movi)) + b"movi" + movi
    body = hdrl + junk + movi_list
    avi = b"RIFF" + struct.pack("<I", 4 + len(body)) + b"AVI " + body
    assert list(mm.iter_video_frames(avi)) == [fr]


def test_mp4_mjpeg_mux_demux_roundtrip():
    """ISO-BMFF sample tables (stsd/stsz/stsc/stco) round trip the
    exact frame bytes; non-MJPEG codecs are the unbundled-codec seam;
    garbage containers are per-row ValueErrors."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [
        ic.encode_jpeg(np.full((24, 32), 40 * k + 10, np.uint8), quality=95)
        for k in range(5)
    ]
    payload = mm.encode_mp4_mjpeg(frames, 32, 24)
    out = list(mm.iter_video_frames(payload))
    assert out == frames
    with pytest.raises(NotImplementedError, match="codec"):
        list(mm.iter_video_frames(payload.replace(b"jpeg", b"vp09", 1)))
    # avc1 (H.264) is not bundled either: the same unbundled-codec seam
    with pytest.raises(NotImplementedError, match="codec"):
        list(mm.iter_video_frames(payload.replace(b"jpeg", b"avc1", 1)))
    with pytest.raises(ValueError):
        list(mm.iter_video_frames(b"\x00\x00\x00\x08ftypxxxxxx"))


def test_mp4_multi_chunk_sample_table():
    """General stsc math: two chunks with different samples-per-chunk
    (3 then 2) must map samples to the right offsets."""
    import struct

    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [
        ic.encode_jpeg(np.full((8, 8), 30 * k + 5, np.uint8), quality=95)
        for k in range(5)
    ]
    ftyp = mm._box(b"ftyp", b"isom\x00\x00\x02\x00")
    mdat_payload = b"".join(frames)
    base = len(ftyp) + 8
    chunk2_off = base + sum(len(f) for f in frames[:3])
    entry = b"\x00" * 6 + struct.pack(">H", 1) + b"\x00" * 78
    stsd = mm._box(b"stsd", b"\x00" * 4 + struct.pack(">I", 1) + mm._box(b"jpeg", entry))
    stsz = mm._box(
        b"stsz",
        b"\x00" * 4 + struct.pack(">II", 0, 5)
        + b"".join(struct.pack(">I", len(f)) for f in frames),
    )
    stsc = mm._box(
        b"stsc",
        b"\x00" * 4 + struct.pack(">I", 2)
        + struct.pack(">III", 1, 3, 1) + struct.pack(">III", 2, 2, 1),
    )
    stco = mm._box(
        b"stco", b"\x00" * 4 + struct.pack(">I", 2)
        + struct.pack(">II", base, chunk2_off)
    )
    stbl = mm._box(b"stbl", stsd + stsz + stsc + stco)
    moov = mm._box(b"moov", mm._box(b"trak", mm._box(b"mdia", mm._box(b"minf", stbl))))
    payload = ftyp + mm._box(b"mdat", mdat_payload) + moov
    assert list(mm.iter_video_frames(payload)) == frames


def test_mp4_last_box_of_size_zero_runs_to_end_of_file():
    """A box whose size field is 0 extends to the end of the file
    (ISO/IEC 14496-12 §4.2): with the last top-level box (moov)
    rewritten that way the same frames come back."""
    import struct

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [ic.encode_jpeg(np.full((16, 16), 60 * k + 20, np.uint8)) for k in range(2)]
    payload = mm.encode_mp4_mjpeg(frames, 16, 16)
    moov = payload.rfind(b"moov") - 4
    zeroed = bytearray(payload)
    struct.pack_into(">I", zeroed, moov, 0)
    assert list(mm.iter_video_frames(bytes(zeroed))) == frames == list(
        mm.iter_video_frames(payload))


def test_mp4_fixed_sample_size_count_past_the_file_is_value_error():
    """An stsz with a fixed sample size and a count of 0xFFFFFFFF once
    asked for a 4.29-billion-entry list (~34 GB); it is a ValueError
    before anything is allocated, and an error row in the frame stage.
    Checked in a child process under a 2 GB address-space limit, so a
    regression fails with MemoryError instead of exhausting the host."""
    import struct
    import subprocess
    import sys
    from pathlib import Path

    code = """
import resource, struct, sys
resource.setrlimit(resource.RLIMIT_AS, (2 << 30, 2 << 30))
import numpy as np, pandas as pd
from ragflow_ocr_spark.kernels import imgcodecs as ic
from ragflow_ocr_spark.ops import multimodal as mm
frames = [ic.encode_jpeg(np.full((16, 16), 60 * k + 20, np.uint8)) for k in range(2)]
data = bytearray(mm.encode_mp4_mjpeg(frames, 16, 16))
body = data.find(b"stsz") + 4
struct.pack_into(">II", data, body + 4, 7, 0xFFFFFFFF)
try:
    list(mm.iter_video_frames(bytes(data)))
except ValueError as e:
    print("ValueError", e)
batch = pd.DataFrame({"media_id": [1], "payload": [bytes(data)]})
out = next(mm.frame_sample_stage(every_k=1)(iter([batch])))
print(list(out["status"]))
"""
    root = str(Path(__file__).resolve().parents[1])
    res = subprocess.run([sys.executable, "-c", code], capture_output=True, text=True,
                         cwd=root, env={"PYTHONPATH": root, "PATH": "/usr/bin:/bin"},
                         timeout=120)
    assert res.returncode == 0, res.stderr[-2000:]
    assert res.stdout.splitlines() == [
        "ValueError mp4 stsz samples exceed the file", "['error']"]


def test_webm_mjpeg_mux_demux_roundtrip():
    """EBML/Matroska demux is real: V_MJPEG SimpleBlocks round trip
    exactly; VP9-coded tracks are the unbundled-codec seam; malformed
    EBML is a per-row ValueError."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [
        ic.encode_jpeg(np.full((16, 20), 25 * k + 15, np.uint8), quality=95)
        for k in range(4)
    ]
    mkv = mm.encode_webm_mjpeg(frames)
    assert list(mm.iter_video_frames(mkv)) == frames
    with pytest.raises(NotImplementedError, match="codec"):
        list(mm.iter_video_frames(mkv.replace(b"V_MJPEG", b"V_VP9\x00\x00")))
    with pytest.raises(ValueError):
        list(mm.iter_video_frames(mm._EBML_MAGIC + b"\x00\xff\x13"))


def test_webm_vp8_keyframes_decode_to_exact_values():
    """V_VP8 Matroska tracks decode frame by frame as keyframes
    (kernels/vp8): flat keyframes reconstruct their exact BT.601
    values through demux + decode."""
    from ragflow_ocr_spark.kernels import vp8

    vals = [70, 140, 200]
    frames = [vp8.encode_vp8_flat_payload(32, 24, (v, 128, 128)) for v in vals]
    out = list(mm.iter_video_frames(mm.encode_webm(frames, b"V_VP8")))
    assert len(out) == 3
    for fr, v in zip(out, vals):
        img = mm._decode_frame(fr)
        exp = (298 * (v - 16) + 128) >> 8
        assert (img == exp).all(), (np.unique(img), exp)


def test_unbundled_video_codecs_are_row_errors(spark):
    """H.264 tracks (mp4 avc1, Matroska V_MPEG4/ISO/AVC), VP8 inter
    frames and non-IRAP HEVC pictures have no bundled decoder: the
    frame stage turns each into an error row and never raises."""
    from ragflow_ocr_spark.kernels import hevc, imgcodecs as ic, vp8

    jpegs = [ic.encode_jpeg(np.full((24, 32), 90, np.uint8), quality=95)] * 2
    avc1_mp4 = mm.encode_mp4_mjpeg(jpegs, 32, 24).replace(b"jpeg", b"avc1", 1)
    avc_webm = mm.encode_webm(jpegs, b"V_MPEG4/ISO/AVC")
    key = vp8.encode_vp8_flat_payload(32, 24, (100, 128, 128))
    inter = bytes([key[0] | 1]) + key[1:]  # frame-type bit: inter frame
    vp8_webm = mm.encode_webm([key, inter], b"V_VP8")
    # an HEVC access unit whose slice is a TRAIL_R (non-IRAP) picture
    c = np.full((12, 16), 128, np.uint8)
    nals = hevc.split_annexb(
        hevc.encode_hevc_ipcm_yuv(np.full((24, 32), 90, np.uint8), c, c))
    nals[-1] = hevc._nal_hdr(1) + nals[-1][2:]
    trail = b"".join(b"\x00\x00\x00\x01" + n for n in nals)
    hvc1_mp4 = mm.encode_mp4_hvc1([trail], 32, 24)
    rows = [
        (0, "video", bytearray(avc1_mp4), "avc1_mp4", 32, 24, 0),
        (1, "video", bytearray(avc_webm), "avc_webm", 32, 24, 0),
        (2, "video", bytearray(vp8_webm), "vp8_webm", 32, 24, 0),
        (3, "video", bytearray(hvc1_mp4), "hvc1_mp4", 32, 24, 0),
    ]
    df = spark.createDataFrame(rows, mm.MEDIA_SCHEMA)
    out = df.mapInPandas(
        mm.frame_sample_stage(every_k=1), schema=mm.FRAME_SAMPLE_SCHEMA
    ).collect()
    status = {}
    for r in sorted(out, key=lambda r: (r["media_id"], r["frame_idx"])):
        status.setdefault(r["media_id"], []).append(r["status"])
    assert status[0] == status[1] == status[3] == ["error"]
    # the keyframe before the inter frame still decodes
    assert status[2] == ["error", "ok"]  # sorted by frame_idx: -1, 0


def test_webm_through_frame_sample_stage(spark):
    """A webm payload goes through the SAME frame-sampling stage as
    the other containers, with per-frame decode features."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [
        ic.encode_jpeg(np.full((16, 20), 60 * k + 30, np.uint8), quality=95)
        for k in range(3)
    ]
    df = spark.createDataFrame(
        [(7, "video", bytearray(mm.encode_webm_mjpeg(frames)), "mjpeg_webm", 20, 16, 0)],
        mm.MEDIA_SCHEMA,
    )
    rows = df.mapInPandas(
        mm.frame_sample_stage(every_k=1), schema=mm.FRAME_SAMPLE_SCHEMA
    ).collect()
    assert [r["frame_idx"] for r in rows] == [0, 1, 2]
    assert [r["mean_luma"] for r in rows] == [30.0, 90.0, 150.0]


def test_animated_gif_through_frame_sample_stage(spark):
    """Animated GIFs route through the video path: composited frames
    re-encode as PNG and sample through the same stage."""
    import numpy as np

    from ragflow_ocr_spark.kernels import imgcodecs as ic

    frames = [np.full((12, 16), 50 * k + 20, np.uint8) for k in range(4)]
    gif = ic.encode_gif_animation(frames)
    df = spark.createDataFrame(
        [(9, "video", bytearray(gif), "gif_anim", 16, 12, 0)], mm.MEDIA_SCHEMA
    )
    rows = df.mapInPandas(
        mm.frame_sample_stage(every_k=2), schema=mm.FRAME_SAMPLE_SCHEMA
    ).collect()
    assert [(r["frame_idx"], r["mean_luma"]) for r in rows] == [(0, 20.0), (2, 120.0)]
