"""Ogg Vorbis decode — kernels/ogg + kernels/vorbis.

Pinning strategy (module docstring of kernels/vorbis.py): no
reference Vorbis decoder is available to test against,
so every integer/structural algorithm is asserted against an
INDEPENDENT direct-from-spec-pseudocode model written here, the
spec's worked huffman example is a literal, the fast IMDCT must match
the literal spec summation at every legal block size, and full
streams round-trip through real Ogg framing against an independent
synthesis model. Digital silence is a fixed point of the whole linear
chain, so silence streams have EXACT expected output."""

from __future__ import annotations

import random

import numpy as np
import pytest

from ragflow_ocr_spark.kernels import vorbis as V
from ragflow_ocr_spark.kernels.ogg import (
    last_granule,
    ogg_crc,
    parse_ogg_packets,
    write_ogg_pages,
)


# ------------------------------------------------------------- ogg


def _crc_bitwise(data: bytes) -> int:
    """Independent bit-at-a-time model of the Ogg CRC (poly
    0x04c11db7, init 0, MSB-first, no reflection, no final xor)."""
    crc = 0
    for b in data:
        crc ^= b << 24
        for _ in range(8):
            crc = ((crc << 1) ^ 0x04C11DB7) if crc & 0x80000000 else crc << 1
            crc &= 0xFFFFFFFF
    return crc


def test_ogg_crc_matches_bitwise_model():
    rng = np.random.RandomState(7)
    for blob in (b"", b"OggS", b"\xff" * 300, rng.bytes(1024)):
        assert ogg_crc(blob) == _crc_bitwise(blob)


def test_ogg_packet_round_trip_with_continuation_and_empty():
    rng = np.random.RandomState(1)
    pkts = [b"\x01vorbis" + b"x", rng.bytes(510), b"", b"a" * 255,
            rng.bytes(70000)]  # 255-boundary + multi-page continuation
    data = write_ogg_pages(pkts, granules=[0, 0, 0, 100, 228])
    assert parse_ogg_packets(data) == pkts
    assert last_granule(data) == 228


def test_ogg_every_single_bit_flip_raises():
    # the CRC covers every page byte, so EVERY flip must fail loudly
    data = write_ogg_pages([b"hdr", b"body" * 50])
    for i in range(len(data)):
        for bit in range(8):
            m = bytearray(data)
            m[i] ^= 1 << bit
            with pytest.raises(ValueError):
                parse_ogg_packets(bytes(m))


def test_ogg_truncations_raise_not_crash():
    data = write_ogg_pages([b"hdr", b"body" * 500])
    for cut in range(len(data)):
        with pytest.raises(ValueError):
            parse_ogg_packets(data[:cut])


# ------------------------------------------------------- codebooks


def test_spec_worked_huffman_example():
    """Vorbis I spec §3.2.1 worked example, as literals."""
    codes = V.assign_codewords([2, 4, 4, 4, 4, 2, 3, 3])
    assert codes == {
        0: (0b00, 2),
        1: (0b0100, 4),
        2: (0b0101, 4),
        3: (0b0110, 4),
        4: (0b0111, 4),
        5: (0b10, 2),
        6: (0b110, 3),
        7: (0b111, 3),
    }


def _lowest_available_model(lengths):
    """Independent model: each used entry, in order, takes the
    numerically lowest codeword of its length that neither prefixes
    nor is prefixed by any already-assigned codeword."""
    assigned = []
    out = {}
    for e, l in enumerate(lengths):
        if l <= 0:
            continue
        for cand in range(1 << l):
            ok = True
            for (c2, l2) in assigned:
                short, lshort = (cand, l) if l <= l2 else (c2, l2)
                lng, llong = (c2, l2) if l <= l2 else (cand, l)
                if lng >> (llong - lshort) == short:
                    ok = False
                    break
            if ok:
                assigned.append((cand, l))
                out[e] = (cand, l)
                break
        else:
            raise ValueError("overspecified")
    return out


def test_codeword_assignment_matches_lowest_available_model():
    rng = random.Random(3)
    for _ in range(50):
        # build a random COMPLETE tree (Kraft sum 1) by splitting
        # leaves, starting from the two depth-1 leaves
        leaves = [1, 1]
        while len(leaves) < rng.randint(2, 24):
            i = rng.randrange(len(leaves))
            l = leaves.pop(i)
            leaves += [l + 1, l + 1]
        rng.shuffle(leaves)
        got = V.assign_codewords(list(leaves))
        assert got == _lowest_available_model(list(leaves))


def test_over_and_under_specified_trees_raise():
    with pytest.raises(ValueError):
        V.assign_codewords([1, 1, 1])  # overspecified
    with pytest.raises(ValueError):
        V.assign_codewords([2, 2, 2])  # underspecified
    # single-used-entry special case is legal
    assert V.assign_codewords([0, 3, 0]) == {1: (0, 3)}


def test_float32_unpack_and_pack():
    # 1.0 = mantissa 1 * 2^(788-788)
    assert V.float32_unpack((788 << 21) | 1) == 1.0
    assert V.float32_unpack((1 << 31) | (787 << 21) | 3) == -1.5
    for v in (1.0, -1.5, 0.25, 1024.0, -3.75):
        assert V.float32_unpack(V.float32_pack(v)) == v


# ------------------------------------------------------------ floor1


def _render_line_spec(x0, y0, x1, y1):
    """Literal spec pseudocode: integer error accumulation."""
    dy = y1 - y0
    adx = x1 - x0
    ady = abs(dy)
    base = abs(dy) // adx * (1 if dy >= 0 else -1)  # trunc toward zero
    x = x0
    y = y0
    err = 0
    sy = base + 1 if dy >= 0 else base - 1
    ady -= abs(base) * adx
    out = {x0: y0}
    for x in range(x0 + 1, x1):
        err += ady
        if err >= adx:
            err -= adx
            y += sy
        else:
            y += base
        out[x] = y
    return out


def test_render_line_matches_spec_pseudocode():
    rng = random.Random(11)
    for _ in range(300):
        x0 = rng.randrange(0, 50)
        x1 = x0 + rng.randrange(1, 80)
        y0 = rng.randrange(0, 256)
        y1 = rng.randrange(0, 256)
        v = np.zeros(x1, dtype=np.int64)
        V.render_line(x0, y0, x1, y1, x1, v)
        model = _render_line_spec(x0, y0, x1, y1)
        for x, y in model.items():
            assert v[x] == y, (x0, y0, x1, y1, x)


def test_render_point_truncates_toward_zero():
    assert V.render_point(0, 0, 4, -5, 1) == -1  # -1.25 → -1, not -2
    assert V.render_point(0, 0, 4, 5, 3) == 3    # 3.75 → 3
    assert V.render_point(2, 10, 6, 10, 4) == 10


def test_inverse_db_table_spec_spot_values():
    """The spec's printed head values to ≤1e-6 relative (its literals
    came from truncated decimal constants + float arithmetic, see the
    module docstring); the table itself is exactly geometric (140 dB
    over 256 steps) with an exact 1.0 endpoint."""
    spec_head = [1.0649863e-07, 1.1341951e-07, 1.2079015e-07,
                 1.2863978e-07, 1.3699951e-07]
    got = V.INVERSE_DB_TABLE[:5]
    assert np.allclose(got, spec_head, rtol=1e-6, atol=0)
    assert V.INVERSE_DB_TABLE[255] == 1.0
    assert np.all(np.diff(V.INVERSE_DB_TABLE) > 0)
    ratios = V.INVERSE_DB_TABLE[1:] / V.INVERSE_DB_TABLE[:-1]
    assert np.allclose(ratios, 10 ** (7 / 256), rtol=1e-12)


# ------------------------------------------------------ transform


@pytest.mark.parametrize("n2", [32, 64, 128, 512, 1024, 4096])
def test_imdct_fast_matches_spec_formula(n2):
    rng = np.random.RandomState(n2)
    spec = rng.randn(n2)
    assert np.allclose(V.imdct(spec), V.imdct_direct(spec), atol=1e-9)


def test_window_slope_formula_and_power_complement():
    n = 64
    sl = V._window_slope(n)
    i = np.arange(n)
    direct = np.sin(0.5 * np.pi * np.sin((i + 0.5) / n * np.pi / 2) ** 2)
    assert np.allclose(sl, direct)
    # rising² + mirrored-falling² == 1 (perfect-reconstruction lap)
    assert np.allclose(sl**2 + sl[::-1] ** 2, 1.0)


def test_lapped_window_shapes():
    # short block: full slopes
    w = V.lapped_window(256, 256, 0, 1, 1)
    assert np.allclose(w[:128], V._window_slope(128))
    assert np.allclose(w[128:], V._window_slope(128)[::-1])
    # long block with short prev: narrow left slope on quarter point,
    # zeros outside it
    w = V.lapped_window(2048, 256, 1, 0, 1)
    assert np.all(w[: 512 - 64] == 0)
    assert np.allclose(w[512 - 64 : 512 + 64], V._window_slope(128))
    assert np.all(w[512 + 64 : 1536 - 1024 + 1024] <= 1.0)
    assert np.allclose(w[512 + 64 : 1024], 1.0)


def test_inverse_couple_hand_examples():
    m = np.array([3.0, 3.0, -3.0, -3.0, 0.0])
    a = np.array([1.0, -1.0, 1.0, -1.0, 0.0])
    nm, na = V.inverse_couple(m, a)
    # M>0,A>0 → (M, M−A); M>0,A≤0 → (M+A, M);
    # M≤0,A>0 → (M, M+A); M≤0,A≤0 → (M−A, M)
    assert list(nm) == [3.0, 2.0, -3.0, -2.0, 0.0]
    assert list(na) == [2.0, 3.0, -2.0, -3.0, 0.0]


# ------------------------------------------------------ full streams


def test_silence_is_exact_fixed_point():
    data = V.encode_vorbis_silence(6, sample_rate=22050)
    pcm, sr = V.decode_vorbis(data)
    assert sr == 22050
    assert len(pcm) == 5 * 128  # first block primes the lap
    assert float(np.abs(pcm).max()) == 0.0


def _independent_synthesis(frames):
    """Spectra → direct IMDCT → window → overlap-add, written from
    the spec formulas with none of the decoder's code paths."""
    specs = [V.enc_expected_spectrum(f) for f in frames]
    n = V.ENC_BLOCK
    i = np.arange(n // 2)
    slope = np.sin(0.5 * np.pi * np.sin((i + 0.5) / (n // 2) * np.pi / 2) ** 2)
    win = np.concatenate([slope, slope[::-1]])
    timeline = np.zeros(n // 2 * (len(frames) + 1))
    for k, s in enumerate(specs):
        j = np.arange(n)[:, None]
        kk = np.arange(n // 2)[None, :]
        block = (
            s[None, :]
            * np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * kk + 1))
        ).sum(axis=1)
        timeline[k * n // 2 : k * n // 2 + n] += block * win
    return timeline[n // 2 : n // 2 + (len(frames) - 1) * n // 2]


def test_content_round_trip_matches_independent_model():
    rng = random.Random(5)
    frames = []
    for _ in range(7):
        if rng.random() < 0.2:
            frames.append(None)
            continue
        ys = tuple(rng.randrange(64) for _ in range(4))
        parts = [
            None if rng.random() < 0.3
            else [rng.randrange(16) for _ in range(4)]
            for _ in range(16)
        ]
        frames.append((ys, parts))
    data = V.encode_vorbis(frames)
    pcm, sr = V.decode_vorbis(data)
    expected = _independent_synthesis(frames)
    assert len(pcm) == len(expected) == 6 * 128
    assert np.allclose(pcm, expected, atol=1e-9)


def test_floor_alone_with_silent_residue_is_zero():
    # nonzero floor × all-silent residue classes = exact zeros, while
    # the full floor decode path (books, step2, render) still runs
    data = V.encode_vorbis([((60, 1, 33, 2), [None] * 16)] * 3)
    pcm, _ = V.decode_vorbis(data)
    assert len(pcm) == 2 * 128
    assert float(np.abs(pcm).max()) == 0.0


def test_eop_in_floor_leaves_channel_unused():
    data = V.encode_vorbis([((32, 40, 20, 50), [[1, 2, 3, 4]] * 16)] * 3)
    packets = parse_ogg_packets(data)
    s = V._parse_headers(packets)
    # cut an audio packet mid-floor: the spec says the channel decodes
    # as unused (silence), not as an error
    block, n = V._decode_audio_packet(s, packets[3][:2])
    assert n == 256
    assert float(np.abs(block).max()) == 0.0


def test_mutations_and_truncations_fail_loudly():
    data = V.encode_vorbis([((9, 9, 9, 9), [[0, 15, 7, 8]] * 16), None])
    rng = random.Random(17)
    for _ in range(400):
        m = bytearray(data)
        m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
        with pytest.raises((ValueError, NotImplementedError)):
            # every byte is CRC-covered, so every flip must raise
            V.decode_vorbis(bytes(m))
    for cut in range(0, len(data), 7):
        with pytest.raises((ValueError, NotImplementedError)):
            V.decode_vorbis(data[:cut])


def test_garbage_never_crashes():
    rng = np.random.RandomState(23)
    for _ in range(60):
        blob = rng.bytes(int(rng.randint(1, 3000)))
        for payload in (blob, b"OggS" + blob):
            try:
                V.decode_vorbis(payload)
            except (ValueError, NotImplementedError):
                pass


# --------------------------------------- mixed blocks / stereo (ex)


def _slope_formula(n):
    i = np.arange(n)
    return np.sin(0.5 * np.pi * np.sin((i + 0.5) / n * np.pi / 2) ** 2)


def _window_formula(n, flag, prevf, nextf, bs0=256):
    """Spec window-decode rules written fresh: a long block next to a
    short one narrows the shared slope to the short half, centered on
    the quarter points; outside slopes-and-plateau is zero."""
    n2 = n // 2
    left = n2 if (not flag or prevf) else bs0 // 2
    right = n2 if (not flag or nextf) else bs0 // 2
    w = np.zeros(n)
    ls = n // 4 - left // 2
    rs = 3 * n // 4 - right // 2
    w[ls : ls + left] = _slope_formula(left)
    w[ls + left : rs] = 1.0
    w[rs : rs + right] = _slope_formula(right)[::-1]
    return w


def _synthesis_ex(frames, channels, bs=(256, 1024)):
    """Independent model: per-channel spectra → direct IMDCT → spec
    window formula → overlap-add at n_prev/4 + n_cur/4 spacing →
    mono mixdown, with the first block's left half dropped."""
    flags = [0 if f is None else f[0] for f in frames]
    ns = [bs[f] for f in flags]
    # spec geometry: consecutive window CENTERS are n_prev/4 + n_cur/4
    # apart; a block's start is center - n/2 (possibly negative when a
    # long block follows a short one — pad the timeline for that)
    centers = [ns[0] // 2]
    for k in range(1, len(frames)):
        centers.append(centers[-1] + ns[k - 1] // 4 + ns[k] // 4)
    starts = [c - n // 2 for c, n in zip(centers, ns)]
    pad = max(0, -min(starts))
    tl = np.zeros((channels, pad + max(s + n for s, n in zip(starts, ns))))
    for k, f in enumerate(frames):
        n = ns[k]
        specs = V.enc_expected_spectra_ex(f, channels, n)
        prevf = flags[k - 1] if k else 1
        nextf = flags[k + 1] if k + 1 < len(frames) else 1
        win = _window_formula(n, flags[k], prevf, nextf)
        j = np.arange(n)[:, None]
        kk = np.arange(n // 2)[None, :]
        basis = np.cos(np.pi / (2 * n) * (2 * j + 1 + n // 2) * (2 * kk + 1))
        for c in range(channels):
            s0 = pad + starts[k]
            tl[c, s0 : s0 + n] += (basis @ specs[c]) * win
    return tl[:, pad + centers[0] : pad + centers[-1]].mean(axis=0)


def _random_ex_frame(rng, channels, flag):
    n = (256, 1024)[flag]
    ch_floors = tuple(
        None if rng.random() < 0.25
        else tuple(rng.randrange(64) for _ in range(4))
        for _ in range(channels)
    )
    if all(f is None for f in ch_floors):
        return (flag, ch_floors, [])
    n_parts = V.enc_coded_len(channels, n) // V.ENC_PSIZE
    parts = [
        None if rng.random() < 0.4
        else [rng.randrange(16) for _ in range(4)]
        for _ in range(n_parts)
    ]
    return (flag, ch_floors, parts)


def test_mixed_block_round_trip_matches_independent_model():
    """The mixed 256/1024 lap rules — the shape every real Vorbis
    stream uses — pinned end-to-end through real Ogg framing."""
    rng = random.Random(29)
    flags = [0, 1, 0, 1, 1, 0, 0, 1]
    frames = [_random_ex_frame(rng, 1, f) for f in flags]
    data = V.encode_vorbis_ex(frames, channels=1, mixed=True)
    pcm, sr = V.decode_vorbis(data)
    expected = _synthesis_ex(frames, 1)
    assert len(pcm) == len(expected)
    assert np.allclose(pcm, expected, atol=1e-9)


def test_stereo_coupling_round_trip_matches_independent_model():
    """2-channel square-polar coupling + type-2 deinterleave + mono
    mixdown, including frames where one channel's floor is unused."""
    rng = random.Random(31)
    frames = [_random_ex_frame(rng, 2, 0) for _ in range(6)]
    # force the asymmetric shapes: one-channel-unused both ways
    frames[1] = (0, (None, (10, 50, 30, 20)),
                 [[3, 12, 7, 1]] * (V.enc_coded_len(2, 256) // 8))
    frames[2] = (0, ((40, 5, 60, 15), None),
                 [[15, 0, 9, 6]] * (V.enc_coded_len(2, 256) // 8))
    data = V.encode_vorbis_ex(frames, channels=2, mixed=False)
    pcm, sr = V.decode_vorbis(data)
    expected = _synthesis_ex(frames, 2)
    assert len(pcm) == len(expected) == 5 * 128
    assert np.allclose(pcm, expected, atol=1e-9)


def test_stereo_mixed_round_trip_matches_independent_model():
    rng = random.Random(37)
    flags = [1, 0, 1, 1, 0]
    frames = [_random_ex_frame(rng, 2, f) for f in flags]
    data = V.encode_vorbis_ex(frames, channels=2, mixed=True)
    pcm, sr = V.decode_vorbis(data)
    expected = _synthesis_ex(frames, 2)
    assert len(pcm) == len(expected)
    assert np.allclose(pcm, expected, atol=1e-9)


def test_mixed_silence_and_unused_long_blocks_are_exact_zero():
    frames = [None, (1, (None,), []), None, (1, (None,), []), None]
    data = V.encode_vorbis_ex(frames, channels=1, mixed=True)
    pcm, _ = V.decode_vorbis(data)
    assert float(np.abs(pcm).max()) == 0.0
    assert len(pcm) == _synthesis_ex(frames, 1).shape[0]


def test_ex_stream_mutations_fail_loudly():
    rng = random.Random(41)
    frames = [_random_ex_frame(rng, 2, f) for f in [0, 1, 0]]
    data = V.encode_vorbis_ex(frames, channels=2, mixed=True)
    for _ in range(200):
        m = bytearray(data)
        m[rng.randrange(len(m))] ^= 1 << rng.randrange(8)
        with pytest.raises((ValueError, NotImplementedError)):
            V.decode_vorbis(bytes(m))


def test_floor0_is_a_named_rejection():
    # patch the setup packet's floor type field to 0: the decoder must
    # name the seam, not mis-decode. Rebuild the stream around the
    # edited packet so the Ogg CRC stays valid.
    data = V.encode_vorbis_silence(2)
    packets = parse_ogg_packets(data)
    setup = bytearray(packets[2])
    # locate the 16-bit floor-type field: it sits right after the
    # time-transform block; flipping the known '1' bit to 0 is enough
    # to re-parse as floor type 0. Find it by decoding bit position:
    bits = V._Bits(bytes(setup[7:]))
    bits.read(8)  # codebook count - 1
    V._parse_codebook(bits)  # book 0
    V._parse_codebook(bits)  # book 1
    V._parse_codebook(bits)  # book 2
    n_t = bits.read(6) + 1
    for _ in range(n_t):
        bits.read(16)
    bits.read(6)  # floor count - 1
    bitpos = bits.pos  # floor type field starts here (LSB-first)
    bytepos = 7 + bitpos // 8
    setup[bytepos] &= ~(1 << (bitpos % 8))  # clear the type-1 bit
    mutated = write_ogg_pages(
        [packets[0], packets[1], bytes(setup)] + packets[3:],
        granules=[0, 0, 0] + [max(0, i) * 128 for i in range(len(packets) - 3)],
    )
    with pytest.raises(NotImplementedError, match="floor type 0"):
        V.decode_vorbis(mutated)


def test_bos_flag_only_on_first_page():
    # RFC 3533 §6: header_type 0x02 (BOS) is only legal on a stream's
    # first page; a >64 KB first packet must not leak it onto its
    # continuation pages
    big = bytes(range(256)) * 300  # ~75 KB → >255 lacing segments
    data = write_ogg_pages([big, b"tail"])
    flags = [data[i + 5] for i in range(len(data))
             if data[i:i + 4] == b"OggS"]
    assert len(flags) >= 3
    assert flags[0] & 0x02                      # first page: BOS
    assert all(not (f & 0x02) for f in flags[1:])
    assert flags[1] & 0x01                      # continuation marked
    # and the packets still round-trip through the in-repo demuxer
    assert parse_ogg_packets(data) == [big, b"tail"]
