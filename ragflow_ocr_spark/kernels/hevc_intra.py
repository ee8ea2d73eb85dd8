"""HEVC Main-profile INTRA slice decoder (ITU-T H.265 clauses 7.3.8,
8.4, 8.6, 8.7, 9.3) — the one picture decoder of the keyframe layer
(kernels/hevc.py), for PCM and entropy-coded coding units alike.

Scope: I slices, 4:2:0, 8-bit, no tiles, no scaling lists — the shape
every x265/libheif still image (HEIC) and hvc1 mp4 keyframe uses.
Covers: CABAC-coded coding quadtree, intra prediction (all 35 modes,
reference substitution + [1 2 1]/strong smoothing), transform tree
with cbf signalling, residual coding (last-position, 4x4 sub-block
scans, sig/greater1/greater2 flags, Golomb-Rice remaining levels,
sign data hiding), dequant, 4x4 DST-VII + 4/8/16/32 DCT-II inverse
transforms, transform skip, cu_qp_delta, PCM CUs, deblocking filter,
SAO (band + edge), and WPP entropy-sync substreams.

PROVENANCE of normative constant tables (the repo's VP8-tables rule:
never ship memory-reconstructed entropy tables without an independent
check). Every context initValue below was transcribed from spec
Tables 9-19..9-32 and then byte-verified against the u32 arrays
compiled into the SYSTEM libde265 (/lib/x86_64-linux-gnu/
libde265.so.0, .rodata 0x58a60-0x590e4: split_cu @0x590c0,
sig_coeff @0x58ca0, greater1 @0x58b60, greater2 @0x58b00,
last_prefix @0x58ee0 (x and y share one table), coded_sub_block
@0x58ea8, split_transform @0x58fc8, cbf_chroma @0x59000, cbf_luma
@0x59030, intra_chroma @0x59040, prev_intra @0x59050, part_mode
@0x59060, sao_type @0x58ad8, sao_merge @0x58ae8, transquant_bypass
@0x58a60, transform_skip + cu_qp_delta @0x58ac8). The deblocking
beta/tc tables are the byte arrays at 0x59e14-52 / 0x59dd6-54 of the
same library (spec Tables 8-12). End-to-end falsification: every
fixture stream is produced by the system libx265 (via libheif) and
the decoded planes are compared sample-exact against the system
libde265 (tests/test_hevc_intra.py) — a single wrong table entry
desyncs CABAC and fails those comparisons.

Reference parity: the reference feeds any hvc1 payload to cv2/ffmpeg
(/root/reference/ocr/operators.py:41-46); this module is the
from-scratch equivalent for stills, so entropy-coded camera HEICs
stop being a named per-row seam.

Error contract: ValueError on malformed input, NotImplementedError on
the remaining named seams (non-I slices, tiles, scaling lists,
4:4:4/high bit depth) — the Spark media stages map both to per-row
error statuses.
"""

from __future__ import annotations

import numpy as np

from ragflow_ocr_spark.kernels.hevc import _BitReader, _CabacDecoder, _ctx_init

# ---------------------------------------------------------------------
# Context initValues, I-slice initType (spec Tables 9-19..9-32; byte-
# verified against the system libde265 — see module doc).
_INIT_I = {
    "sao_merge": (153,),
    "sao_type": (200,),
    "split_cu": (139, 141, 157),
    "tqb": (154,),
    "part_mode": (184,),
    "prev_intra": (184,),
    "intra_chroma": (63,),
    "split_tr": (153, 138, 138),
    "cbf_luma": (111, 141),
    "cbf_chroma": (94, 138, 182, 154),
    "tskip": (139, 139),           # [0]=luma, [1]=chroma
    "cu_qp_delta": (154, 154),
    # one shared initValue table for x and y prefixes (libde265 stores
    # it once; the spec rows are identical) — but SEPARATE states:
    "last_x": (110, 110, 124, 125, 140, 153, 125, 127, 140, 109, 111,
               143, 127, 111, 79, 108, 123, 63),
    "last_y": (110, 110, 124, 125, 140, 153, 125, 127, 140, 109, 111,
               143, 127, 111, 79, 108, 123, 63),
    "csbf": (91, 171, 134, 141),
    "sig": (111, 111, 125, 110, 110, 94, 124, 108, 124, 107, 125, 141,
            179, 153, 125, 107, 125, 141, 179, 153, 125, 107, 125,
            141, 179, 153, 125, 140, 139, 182, 182, 152, 136, 152,
            136, 153, 136, 139, 111, 136, 139, 111),
    "gt1": (140, 92, 137, 138, 140, 152, 138, 139, 153, 74, 149, 92,
            139, 107, 122, 152, 140, 179, 166, 182, 140, 227, 122,
            197),
    "gt2": (138, 153, 136, 167, 152, 152),
}

# spec Table 8-12 (deblocking) — byte arrays extracted from libde265
_BETA_TAB = (0,) * 16 + (6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16, 17,
                         18, 20, 22, 24, 26, 28, 30, 32, 34, 36, 38,
                         40, 42, 44, 46, 48, 50, 52, 54, 56, 58, 60,
                         62, 64)
_TC_TAB = (0,) * 18 + (1, 1, 1, 1, 1, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3,
                       3, 3, 4, 4, 4, 5, 5, 6, 6, 7, 8, 9, 10, 11,
                       13, 14, 16, 18, 20, 22, 24)

# spec Table 8-10: chroma QP mapping for 4:2:0 (qPi 30..43)
_CHROMA_QP = (29, 30, 31, 32, 33, 33, 34, 34, 35, 35, 36, 36, 37, 37)

_LEVEL_SCALE = (40, 45, 51, 57, 64, 72)

# spec 8.4.4.2.6 Table 8-4/8-5
_PRED_ANGLE = (32, 26, 21, 17, 13, 9, 5, 2, 0, -2, -5, -9, -13, -17,
               -21, -26, -32, -26, -21, -17, -13, -9, -5, -2, 0, 2, 5,
               9, 13, 17, 21, 26, 32)  # modes 2..34
_INV_ANGLE = {-2: -4096, -5: -1638, -9: -910, -13: -630, -17: -482,
              -21: -390, -26: -315, -32: -256}

# spec 9.3.4.2.5: sig_coeff_flag ctxIdxMap for 4x4 TUs
_SIG_MAP_4x4 = (0, 1, 4, 5, 2, 3, 4, 5, 6, 6, 8, 8, 7, 7, 8)

# sub-block gating thresholds for intra scan selection
_HV_DIST_THRES = {3: 7, 4: 1, 5: 0}


# ------------------------------------------------------------ matrices
_B64 = (64, 90, 90, 90, 89, 88, 87, 85, 83, 82, 80, 78, 75, 73, 70,
        67, 64, 61, 57, 54, 50, 46, 43, 38, 36, 31, 25, 22, 18, 13,
        9, 4)  # 64*cos(pi*j/64) as pinned by the spec, j=0..31


def _cos64(j: int) -> int:
    j %= 128
    if j >= 64:
        return -_cos64(j - 64)
    if j > 32:
        return -_cos64(64 - j)
    if j == 32:
        return 0
    return _B64[j]


def _dct_matrix(n: int) -> np.ndarray:
    step = 32 // n
    return np.array([[_cos64(k * (2 * c + 1) * step) for c in range(n)]
                     for k in range(n)], np.int64)


_DST4 = np.array([[29, 55, 74, 84], [74, 74, 0, -74],
                  [84, -29, -74, 55], [55, -84, 74, -29]], np.int64)
_DCT = {n: _dct_matrix(n) for n in (4, 8, 16, 32)}


# ---------------------------------------------------------------- scans
def _scan_positions(log2: int, scan_idx: int):
    """(x, y) positions in coding order for an n×n block."""
    n = 1 << log2
    if scan_idx == 1:    # horizontal
        return [(x, y) for y in range(n) for x in range(n)]
    if scan_idx == 2:    # vertical
        return [(x, y) for x in range(n) for y in range(n)]
    out = []             # up-right diagonal
    for k in range(2 * n - 1):
        for x in range(k + 1):
            y = k - x
            if x < n and y < n:
                out.append((x, y))
    return out


_SCANS = {(log2, s): _scan_positions(log2, s)
          for log2 in (1, 2, 3) for s in (0, 1, 2)}
_SCAN_INV = {k: {p: i for i, p in enumerate(v)}
             for k, v in _SCANS.items()}


def _scan_idx_for(mode: int, log2: int, c_idx: int) -> int:
    """9.3.4.2.7: intra mode-dependent coefficient scan selection."""
    if log2 == 2 or (log2 == 3 and c_idx == 0):
        if 6 <= mode <= 14:
            return 2
        if 22 <= mode <= 30:
            return 1
    return 0


class _Ctx:
    """All CABAC context states for one slice (or WPP snapshot)."""

    __slots__ = ("t",)

    def __init__(self, qp: int) -> None:
        self.t = {name: [_ctx_init(v, qp) for v in vals]
                  for name, vals in _INIT_I.items()}

    def snapshot(self) -> dict:
        return {k: [c[:] for c in v] for k, v in self.t.items()}

    def restore(self, snap: dict) -> None:
        self.t = {k: [c[:] for c in v] for k, v in snap.items()}


class IntraDecoder:
    """Decodes the I-slice access unit produced by parse_sps/parse_pps
    + _parse_slice_header in kernels/hevc.py. Returns full-size (un-
    cropped) Y/Cb/Cr planes; the caller applies the conformance crop.
    """

    def __init__(self, sps: dict, pps: dict) -> None:
        if sps["chroma"] != 1 \
                or sps["bit_depth"] not in (8, 10) \
                or sps["bit_depth_c"] != sps["bit_depth"]:
            raise NotImplementedError(
                "HEVC non-4:2:0 or >10-bit streams not bundled")
        self.bd = sps["bit_depth"]
        self.maxval = (1 << self.bd) - 1
        self.qp_bd = 6 * (self.bd - 8)  # QpBdOffsetY/C
        self.sps = sps
        self.pps = pps
        self.ctb_log2 = sps["ctb_log2"]
        self.ctb = 1 << self.ctb_log2
        self.min_cb_log2 = sps["min_cb_log2"]
        self.min_tb = sps["min_tb_log2"]
        self.max_tb = sps["max_tb_log2"]
        if self.max_tb > 5 or self.min_tb < 2:
            raise ValueError("HEVC transform-size range out of spec")
        self.pic_w = sps["pic_w"]
        self.pic_h = sps["pic_h"]
        self.w_ctbs = -(-self.pic_w // self.ctb)
        self.h_ctbs = -(-self.pic_h // self.ctb)
        self.n_ctbs = self.w_ctbs * self.h_ctbs
        pw = self.w_ctbs * self.ctb
        ph = self.h_ctbs * self.ctb
        dt = np.uint8 if self.bd == 8 else np.uint16
        self.y = np.zeros((ph, pw), dt)
        self.cb = np.zeros((ph // 2, pw // 2), dt)
        self.cr = np.zeros_like(self.cb)
        g = (ph // 4, pw // 4)
        self.done4 = np.zeros(g, bool)
        # parse-time z-order availability (MPM neighbours may be
        # earlier PUs of the same CU, parsed but not yet recon'd)
        self.parsed4 = np.zeros(g, bool)
        self.mode4 = np.ones(g, np.uint8)      # DC until written
        self.depth4 = np.zeros(g, np.uint8)
        self.qp4 = np.zeros(g, np.int16)
        self.pcm4 = np.zeros(g, bool)
        # 8x8-grid deblocking edge flags (TU/CU boundaries)
        self.edge_v = np.zeros((ph // 4, pw // 8), bool)
        self.edge_h = np.zeros((ph // 8, pw // 4), bool)
        self.sao_params = [None] * self.n_ctbs
        self.seen = np.zeros(self.n_ctbs, bool)
        self.qg_log2 = self.ctb_log2 - pps["cu_qp_delta_depth"]

    # ------------------------------------------------------- slice loop
    def decode_slice(self, rbsp: bytes, hdr: dict, data_bit_pos: int,
                     epb_pos: tuple = ()) -> None:
        self.hdr = hdr
        self.slice_qp = hdr["qp"]
        if not -26 <= self.slice_qp <= 51:
            raise ValueError("HEVC slice QP out of range")
        ctx = _Ctx(self.slice_qp)
        self.ctx = ctx.t
        byte0 = (data_bit_pos + 7) // 8
        entry = hdr["entry_points"]
        # entry points are counted in the EPB-INCLUSIVE NAL payload
        # (spec 7.4.7.1): drop j (an emulation_prevention_three_byte
        # removed before RBSP byte epb_pos[j]) has raw index
        # epb_pos[j] + j, and raw(p) = p + |{j : epb_pos[j] <= p}|

        def rbsp_of_raw(r: int) -> int:
            cnt = 0
            for j, q in enumerate(epb_pos):
                if q + j < r:
                    cnt += 1
                else:
                    break
            return r - cnt

        raw_start = byte0 + sum(1 for q in epb_pos if q <= byte0)
        bounds = []
        raw_off = raw_start
        for e in entry:
            bounds.append((rbsp_of_raw(raw_off),
                           rbsp_of_raw(raw_off + e)))
            raw_off += e
        bounds.append((rbsp_of_raw(raw_off), len(rbsp)))
        self._substreams = [rbsp[a:b] for a, b in bounds]
        self._ss_idx = 0
        self.r = _BitReader(self._substreams[0])
        self.dec = _CabacDecoder(self.r)

        addr = hdr["addr"]
        wpp = self.pps["entropy_sync"]
        self.qpy_last = self.slice_qp
        self.qp_pred_qg = None
        snap = None
        while True:
            if addr >= self.n_ctbs:
                raise ValueError("HEVC CTB address out of range")
            if self.seen[addr]:
                raise ValueError("HEVC slices overlap")
            cy, cx = divmod(addr, self.w_ctbs)
            if wpp and cx == 0 and addr != hdr["addr"]:
                # entropy sync: next substream, restore stored ctx
                self._ss_idx += 1
                if self._ss_idx >= len(self._substreams):
                    raise ValueError("HEVC WPP substream underrun")
                self.r = _BitReader(self._substreams[self._ss_idx])
                self.dec = _CabacDecoder(self.r)
                if snap is not None and self.w_ctbs > 1:
                    ctx.restore(snap)
                    self.ctx = ctx.t
                else:
                    ctx = _Ctx(self.slice_qp)
                    self.ctx = ctx.t
                self.qpy_last = self.slice_qp
            self._decode_ctu(cx, cy)
            self.seen[addr] = True
            if wpp and cx == min(1, self.w_ctbs - 1):
                snap = ctx.snapshot()
            addr += 1
            if self.dec.decode_terminate():  # end_of_slice_segment
                break
            if wpp and addr % self.w_ctbs == 0:
                if not self.dec.decode_terminate():
                    raise ValueError("HEVC missing end_of_subset bit")
            if addr >= self.n_ctbs:
                raise ValueError("HEVC slice ran past the last CTB")

    def _decode_ctu(self, cx: int, cy: int) -> None:
        x0, y0 = cx << self.ctb_log2, cy << self.ctb_log2
        if self.hdr["sao_luma"] or self.hdr["sao_chroma"]:
            self._parse_sao(cx, cy)
        self._coding_quadtree(x0, y0, self.ctb_log2, 0)

    # ------------------------------------------------------------- SAO
    def _parse_sao(self, cx: int, cy: int) -> None:
        dec, ctx = self.dec, self.ctx
        addr = cy * self.w_ctbs + cx
        if cx > 0 and self.seen[addr - 1]:
            if dec.decode_decision(ctx["sao_merge"][0]):
                self.sao_params[addr] = self.sao_params[addr - 1]
                return
        if cy > 0 and self.seen[addr - self.w_ctbs]:
            if dec.decode_decision(ctx["sao_merge"][0]):
                self.sao_params[addr] = self.sao_params[
                    addr - self.w_ctbs]
                return
        params = []
        for c_idx in range(3):
            enabled = self.hdr["sao_luma"] if c_idx == 0 \
                else self.hdr["sao_chroma"]
            if not enabled:
                params.append(None)
                continue
            if c_idx < 2:
                # sao_type_idx: bin0 ctx-coded, bin1 bypass (TR cMax 2)
                if not dec.decode_decision(ctx["sao_type"][0]):
                    t = 0
                else:
                    t = 2 if dec.decode_bypass() else 1
            else:
                t = params[1][0]  # Cr copies the Cb type
            if t == 0:
                params.append((0,))
                continue
            offs = []
            # sao_offset_abs, TR cMax (1 << (min(bd,10)-5)) - 1, bypass
            omax = (1 << (min(self.bd, 10) - 5)) - 1
            for _ in range(4):
                v = 0
                while v < omax and dec.decode_bypass():
                    v += 1
                offs.append(v)
            if t == 1:  # band: per-component signs + position
                for k in range(4):
                    if offs[k] and dec.decode_bypass():
                        offs[k] = -offs[k]
                band_pos = dec.decode_bypass_bits(5)
                params.append((1, tuple(offs), band_pos))
            else:       # edge: fixed signs +,+,-,-; class shared CbCr
                offs = (offs[0], offs[1], -offs[2], -offs[3])
                if c_idx < 2:
                    eo = dec.decode_bypass_bits(2)
                else:
                    eo = params[1][3]
                params.append((2, offs, None, eo))
        self.sao_params[addr] = params

    # -------------------------------------------------------- quadtree
    def _coding_quadtree(self, x0: int, y0: int, log2: int,
                         depth: int) -> None:
        dec, ctx = self.dec, self.ctx
        n = 1 << log2
        inside = x0 + n <= self.pic_w and y0 + n <= self.pic_h
        if inside and log2 > self.min_cb_log2:
            ctx_inc = 0
            if x0 > 0 and self.done4[y0 >> 2, (x0 - 1) >> 2]:
                ctx_inc += self.depth4[y0 >> 2, (x0 - 1) >> 2] > depth
            if y0 > 0 and self.done4[(y0 - 1) >> 2, x0 >> 2]:
                ctx_inc += self.depth4[(y0 - 1) >> 2, x0 >> 2] > depth
            split = dec.decode_decision(ctx["split_cu"][ctx_inc])
        else:
            split = log2 > self.min_cb_log2  # implicit at pic edge
            if not inside and not split:
                raise ValueError("HEVC CU outside picture")
        if self.pps["cu_qp_delta"] and log2 >= self.qg_log2:
            self.qp_delta_coded = False
            self.cu_qp_delta_val = 0
            self.qg_origin = (x0, y0)
            self.qp_pred_qg = None
            self.qpy_prev_qg = self.qpy_last  # 8.6.1 qPY_PREV
        if split:
            h = n >> 1
            for dy in (0, h):
                for dx in (0, h):
                    x1, y1 = x0 + dx, y0 + dy
                    if x1 < self.pic_w and y1 < self.pic_h:
                        self._coding_quadtree(x1, y1, log2 - 1,
                                              depth + 1)
        else:
            self._coding_unit(x0, y0, log2, depth)

    # ------------------------------------------------------------- QP
    def _qp_pred(self) -> int:
        """8.6.1 qPY_PRED for the current quantization group."""
        if self.qp_pred_qg is not None:
            return self.qp_pred_qg
        xqg, yqg = self.qg_origin
        prev = self.qpy_prev_qg
        ctb_mask = ~(self.ctb - 1)
        qpa = prev
        if xqg > 0 and (xqg - 1) & ctb_mask == xqg & ctb_mask \
                and self.done4[yqg >> 2, (xqg - 1) >> 2]:
            qpa = int(self.qp4[yqg >> 2, (xqg - 1) >> 2])
        qpb = prev
        if yqg > 0 and (yqg - 1) & ctb_mask == yqg & ctb_mask \
                and self.done4[(yqg - 1) >> 2, xqg >> 2]:
            qpb = int(self.qp4[(yqg - 1) >> 2, xqg >> 2])
        self.qp_pred_qg = (qpa + qpb + 1) >> 1
        return self.qp_pred_qg

    def _cu_qp(self) -> int:
        if not self.pps["cu_qp_delta"]:
            return self.slice_qp
        m = 52 + self.qp_bd
        return ((self._qp_pred() + self.cu_qp_delta_val + 52
                 + 2 * self.qp_bd) % m) - self.qp_bd

    # ------------------------------------------------------ coding unit
    def _coding_unit(self, x0: int, y0: int, log2: int,
                     depth: int) -> None:
        dec, ctx = self.dec, self.ctx
        self.tqb = 0
        if self.pps["transquant_bypass"]:
            self.tqb = dec.decode_decision(ctx["tqb"][0])
        n = 1 << log2
        part_nxn = False
        if log2 == self.min_cb_log2:
            if not dec.decode_decision(ctx["part_mode"][0]):
                part_nxn = True
        pcm = self.sps["pcm"] and not part_nxn and not self.tqb
        if pcm:
            p = self.sps["pcm"]
            pcm = p["log2_min"] <= log2 <= p["log2_max"]
        if pcm and dec.decode_terminate():
            self._decode_pcm(x0, y0, log2)
            self._finish_cu(x0, y0, log2, depth, self._cu_qp(),
                            pcm=True)
            return
        # intra luma modes
        pus = [(x0, y0)] if not part_nxn else [
            (x0, y0), (x0 + (n >> 1), y0), (x0, y0 + (n >> 1)),
            (x0 + (n >> 1), y0 + (n >> 1))]
        prev_flags = [dec.decode_decision(ctx["prev_intra"][0])
                      for _ in pus]
        raw = []
        for f in prev_flags:
            if f:
                idx = 0
                if dec.decode_bypass():
                    idx = 2 if dec.decode_bypass() else 1
                raw.append(idx)
            else:
                raw.append(dec.decode_bypass_bits(5))
        pu_n = n >> (1 if part_nxn else 0)
        modes = []
        for (px, py), f, v in zip(pus, prev_flags, raw):
            mpm = self._mpm(px, py)
            if f:
                mode = mpm[v]
            else:
                mode = v
                for c in sorted(mpm):
                    if mode >= c:
                        mode += 1
            modes.append(mode)
            self.mode4[py >> 2:(py + pu_n) >> 2,
                       px >> 2:(px + pu_n) >> 2] = mode
            self.parsed4[py >> 2:(py + pu_n) >> 2,
                         px >> 2:(px + pu_n) >> 2] = True
        # chroma mode (4:2:0: one per CU)
        if dec.decode_decision(ctx["intra_chroma"][0]):
            idx = dec.decode_bypass_bits(2)
            cand = (0, 26, 10, 1)[idx]
            chroma_mode = 34 if cand == modes[0] else cand
        else:
            chroma_mode = modes[0]
        self.cu = {"x0": x0, "y0": y0, "log2": log2,
                   "part_nxn": part_nxn, "modes": modes,
                   "chroma_mode": chroma_mode}
        max_depth = self.sps["hier_intra"] + (1 if part_nxn else 0)
        self._transform_tree(x0, y0, x0, y0, log2, 0, 0, max_depth,
                             True, True)
        self._finish_cu(x0, y0, log2, depth, self._cu_qp())

    def _finish_cu(self, x0, y0, log2, depth, qp, pcm=False):
        n = 1 << log2
        ys, xs = slice(y0 >> 2, (y0 + n) >> 2), \
            slice(x0 >> 2, (x0 + n) >> 2)
        self.depth4[ys, xs] = depth
        self.qp4[ys, xs] = qp
        if pcm:
            self.pcm4[ys, xs] = True
            self.mode4[ys, xs] = 1  # DC candidate per 8.4.2
            self.done4[ys, xs] = True
        self.parsed4[ys, xs] = True
        self.qpy_last = qp
        # deblocking: CU boundary edges (TU marking covers them too,
        # but PCM CUs have no TU tree)
        self._mark_edges(x0, y0, n)

    def _mark_edges(self, x0, y0, n):
        if x0 % 8 == 0 and x0 > 0:
            self.edge_v[y0 >> 2:(y0 + n) >> 2, x0 >> 3] = True
        if y0 % 8 == 0 and y0 > 0:
            self.edge_h[y0 >> 3, x0 >> 2:(x0 + n) >> 2] = True

    def _mpm(self, px: int, py: int) -> list[int]:
        """8.4.2 three most-probable-mode candidates."""
        cand_a = cand_b = 1  # DC
        if px > 0 and self.parsed4[py >> 2, (px - 1) >> 2] \
                and not self.pcm4[py >> 2, (px - 1) >> 2]:
            cand_a = int(self.mode4[py >> 2, (px - 1) >> 2])
        if py > 0 and self.parsed4[(py - 1) >> 2, px >> 2] \
                and not self.pcm4[(py - 1) >> 2, px >> 2] \
                and (py - 1) >> self.ctb_log2 == py >> self.ctb_log2:
            cand_b = int(self.mode4[(py - 1) >> 2, px >> 2])
        if cand_a == cand_b:
            if cand_a < 2:
                return [0, 1, 26]
            return [cand_a, 2 + ((cand_a + 29) % 32),
                    2 + ((cand_a - 2 + 1) % 32)]
        mpm = [cand_a, cand_b]
        if 0 not in mpm:
            mpm.append(0)
        elif 1 not in mpm:
            mpm.append(1)
        else:
            mpm.append(26)
        return mpm

    # ------------------------------------------------------------- PCM
    def _decode_pcm(self, x0: int, y0: int, log2: int) -> None:
        p = self.sps["pcm"]
        if p["bit_depth"] != 8 or p["bit_depth_c"] != 8:
            raise NotImplementedError("HEVC non-8-bit PCM not bundled")
        n = 1 << log2
        r = self.r
        r.byte_align()
        luma = np.frombuffer(r.bytes_raw(n * n),
                             np.uint8).reshape(n, n)
        half = n >> 1
        cb = np.frombuffer(r.bytes_raw(half * half),
                           np.uint8).reshape(half, half)
        cr = np.frombuffer(r.bytes_raw(half * half),
                           np.uint8).reshape(half, half)
        self.y[y0:y0 + n, x0:x0 + n] = luma
        self.cb[y0 >> 1:(y0 + n) >> 1, x0 >> 1:(x0 + n) >> 1] = cb
        self.cr[y0 >> 1:(y0 + n) >> 1, x0 >> 1:(x0 + n) >> 1] = cr
        self.dec.init_engine()  # 9.3.1: re-init after pcm_sample

    # --------------------------------------------------- transform tree
    def _transform_tree(self, x0, y0, x_base, y_base, log2, depth,
                        blk_idx, max_depth, cbf_cb, cbf_cr):
        dec, ctx = self.dec, self.ctx
        intra_split = self.cu["part_nxn"]
        if log2 <= self.max_tb and log2 > self.min_tb \
                and depth < max_depth \
                and not (intra_split and depth == 0):
            split = dec.decode_decision(ctx["split_tr"][5 - log2])
        else:
            split = log2 > self.max_tb or \
                (intra_split and depth == 0)
        if log2 > 2:
            if depth == 0 or cbf_cb:
                cbf_cb = bool(dec.decode_decision(
                    ctx["cbf_chroma"][depth]))
            if depth == 0 or cbf_cr:
                cbf_cr = bool(dec.decode_decision(
                    ctx["cbf_chroma"][depth]))
        if split:
            h = 1 << (log2 - 1)
            self._transform_tree(x0, y0, x0, y0, log2 - 1, depth + 1,
                                 0, max_depth, cbf_cb, cbf_cr)
            self._transform_tree(x0 + h, y0, x0, y0, log2 - 1,
                                 depth + 1, 1, max_depth, cbf_cb,
                                 cbf_cr)
            self._transform_tree(x0, y0 + h, x0, y0, log2 - 1,
                                 depth + 1, 2, max_depth, cbf_cb,
                                 cbf_cr)
            self._transform_tree(x0 + h, y0 + h, x0, y0, log2 - 1,
                                 depth + 1, 3, max_depth, cbf_cb,
                                 cbf_cr)
        else:
            cbf_luma = bool(dec.decode_decision(
                ctx["cbf_luma"][1 if depth == 0 else 0]))
            self._transform_unit(x0, y0, x_base, y_base, log2, depth,
                                 blk_idx, cbf_luma, cbf_cb, cbf_cr)

    def _transform_unit(self, x0, y0, x_base, y_base, log2, depth,
                        blk_idx, cbf_luma, cbf_cb, cbf_cr):
        dec, ctx = self.dec, self.ctx
        chroma_here = log2 > 2 or blk_idx == 3
        if (cbf_luma or (chroma_here and (cbf_cb or cbf_cr))) \
                and self.pps["cu_qp_delta"] and not self.qp_delta_coded:
            self.qp_delta_coded = True
            v = 0
            if dec.decode_decision(ctx["cu_qp_delta"][0]):
                v = 1
                while v < 5 and dec.decode_decision(
                        ctx["cu_qp_delta"][1]):
                    v += 1
                if v == 5:
                    v += self._eg(0)
            if v and dec.decode_bypass():
                v = -v
            if not -26 <= v <= 25:
                raise ValueError("HEVC cu_qp_delta out of range")
            self.cu_qp_delta_val = v
        # luma: predict + residual + reconstruct
        mode = self._luma_mode_at(x0, y0)
        coeff = self._residual(x0, y0, log2, 0, mode) \
            if cbf_luma else None
        self._recon(self.y, x0, y0, log2, 0, mode, coeff)
        n4 = 1 << (log2 - 2)
        self.done4[y0 >> 2:(y0 >> 2) + n4,
                   x0 >> 2:(x0 >> 2) + n4] = True
        self._mark_edges(x0, y0, 1 << log2)
        if not chroma_here:
            return
        if log2 > 2:
            cx, cy, clog2 = x0 >> 1, y0 >> 1, log2 - 1
        else:
            cx, cy, clog2 = x_base >> 1, y_base >> 1, 2
        cmode = self.cu["chroma_mode"]
        ccoeff_b = self._residual(cx, cy, clog2, 1, cmode) \
            if cbf_cb else None
        self._recon(self.cb, cx, cy, clog2, 1, cmode, ccoeff_b)
        ccoeff_r = self._residual(cx, cy, clog2, 2, cmode) \
            if cbf_cr else None
        self._recon(self.cr, cx, cy, clog2, 2, cmode, ccoeff_r)

    def _luma_mode_at(self, x0, y0):
        return int(self.mode4[y0 >> 2, x0 >> 2])

    def _eg(self, k: int) -> int:
        dec = self.dec
        count, v = k, 0
        while dec.decode_bypass():
            v += 1 << count
            count += 1
            if count > 30:
                raise ValueError("HEVC EGk runaway")
        if count:
            v += dec.decode_bypass_bits(count)
        return v

    # ------------------------------------------------- residual coding
    def _residual(self, x0, y0, log2, c_idx, mode) -> np.ndarray:
        """7.3.8.11 residual_coding -> int32 coeff block [y][x]."""
        dec, ctx = self.dec, self.ctx
        tskip = False
        if self.pps["transform_skip"] and log2 == 2 and not self.tqb:
            tskip = bool(dec.decode_decision(
                ctx["tskip"][0 if c_idx == 0 else 1]))
        scan_idx = _scan_idx_for(mode, log2, c_idx)
        # last significant position
        cmax = (log2 << 1) - 1
        if c_idx == 0:
            off = 3 * (log2 - 2) + ((log2 - 1) >> 2)
            shift = (log2 + 1) >> 2
        else:
            off, shift = 15, log2 - 2
        lx = 0
        while lx < cmax and dec.decode_decision(
                ctx["last_x"][off + (lx >> shift)]):
            lx += 1
        ly = 0
        while ly < cmax and dec.decode_decision(
                ctx["last_y"][off + (ly >> shift)]):
            ly += 1
        if lx > 3:
            lx = (((2 + (lx & 1)) << ((lx >> 1) - 1))
                  + dec.decode_bypass_bits((lx >> 1) - 1))
        if ly > 3:
            ly = (((2 + (ly & 1)) << ((ly >> 1) - 1))
                  + dec.decode_bypass_bits((ly >> 1) - 1))
        if scan_idx == 2:
            lx, ly = ly, lx
        n = 1 << log2
        if lx >= n or ly >= n:
            raise ValueError("HEVC last-coeff position out of block")
        sb_log2 = log2 - 2
        sb_scan = _SCANS[(sb_log2, scan_idx)] if sb_log2 else [(0, 0)]
        sb_inv = _SCAN_INV[(sb_log2, scan_idx)] if sb_log2 \
            else {(0, 0): 0}
        pos_scan = _SCANS[(2, scan_idx)]
        pos_inv = _SCAN_INV[(2, scan_idx)]
        last_sb = sb_inv[(lx >> 2, ly >> 2)]
        last_pos = pos_inv[(lx & 3, ly & 3)]
        coeff = np.zeros((n, n), np.int32)
        csbf = np.zeros((n >> 2, n >> 2), np.uint8)
        sdh = self.pps["sign_data_hiding"] and not self.tqb
        prev_gt1_ctx = 1
        first_subset = True
        for i in range(last_sb, -1, -1):
            xs, ys = sb_scan[i]
            infer_dc = False
            if i < last_sb and i > 0:
                cinc = 0
                if xs + 1 < csbf.shape[1] and csbf[ys, xs + 1]:
                    cinc = 1
                elif ys + 1 < csbf.shape[0] and csbf[ys + 1, xs]:
                    cinc = 1
                sb_coded = dec.decode_decision(
                    ctx["csbf"][cinc + (2 if c_idx else 0)])
                csbf[ys, xs] = sb_coded
                if not sb_coded:
                    continue
                infer_dc = True
            else:
                csbf[ys, xs] = 1
            # significance flags
            sig = [False] * 16
            if i == last_sb:
                sig[last_pos] = True
                start = last_pos - 1
            else:
                start = 15
            any_sig = i == last_sb
            for np_ in range(start, -1, -1):
                if np_ == 0 and infer_dc and not any_sig:
                    sig[0] = True
                    break
                xp, yp = pos_scan[np_]
                xc, yc = (xs << 2) + xp, (ys << 2) + yp
                s = self._sig_ctx(log2, c_idx, scan_idx, xc, yc, xp,
                                  yp, xs, ys, csbf)
                if dec.decode_decision(ctx["sig"][s]):
                    sig[np_] = True
                    any_sig = True
            order = [np_ for np_ in range(15, -1, -1) if sig[np_]]
            if not order:
                continue
            # greater1 / greater2
            ctx_set = (0 if (i == 0 or c_idx > 0) else 2)
            if not first_subset and prev_gt1_ctx == 0:
                ctx_set += 1
            first_subset = False
            gt1_ctx = 1
            gt1 = {}
            for j, np_ in enumerate(order[:8]):
                cinc = ctx_set * 4 + min(3, gt1_ctx) \
                    + (16 if c_idx else 0)
                f = dec.decode_decision(ctx["gt1"][cinc])
                gt1[np_] = f
                if f:
                    gt1_ctx = 0
                elif gt1_ctx:
                    gt1_ctx += 1
            prev_gt1_ctx = gt1_ctx
            gt2_pos = next((p for p in order[:8] if gt1.get(p)), None)
            gt2 = 0
            if gt2_pos is not None:
                gt2 = dec.decode_decision(
                    ctx["gt2"][ctx_set + (4 if c_idx else 0)])
            # signs (reverse scan order), SDH hides the last one
            last_sig_pos = order[0]
            first_sig_pos = order[-1]
            hidden = sdh and (last_sig_pos - first_sig_pos) > 3
            signs = {}
            for np_ in order:
                if hidden and np_ == first_sig_pos:
                    continue
                signs[np_] = dec.decode_bypass()
            # levels
            rice = 0
            levels = {}
            sum_abs = 0
            for j, np_ in enumerate(order):
                base = 1
                if j < 8:
                    base += gt1.get(np_, 0)
                    if np_ == gt2_pos:
                        base += gt2
                has_rem = (j >= 8) or (
                    gt1.get(np_, 0) and
                    (np_ != gt2_pos or gt2))
                lvl = base
                if has_rem:
                    lvl = base + self._rice(rice)
                if lvl > 3 << rice:
                    rice = min(rice + 1, 4)
                levels[np_] = lvl
                sum_abs += lvl
            if hidden:
                signs[first_sig_pos] = sum_abs & 1
            for np_ in order:
                xp, yp = pos_scan[np_]
                v = levels[np_]
                if signs.get(np_, 0):
                    v = -v
                coeff[(ys << 2) + yp, (xs << 2) + xp] = v
        return self._dequant_itransform(coeff, log2, c_idx, tskip)

    def _sig_ctx(self, log2, c_idx, scan_idx, xc, yc, xp, yp, xs, ys,
                 csbf):
        if log2 == 2:
            s = _SIG_MAP_4x4[(yp << 2) + xp]
        elif xc == 0 and yc == 0:
            s = 0
        else:
            prev = 0
            if xs + 1 < csbf.shape[1] and csbf[ys, xs + 1]:
                prev += 1
            if ys + 1 < csbf.shape[0] and csbf[ys + 1, xs]:
                prev += 2
            if prev == 0:
                s = 2 if xp + yp == 0 else (1 if xp + yp < 3 else 0)
            elif prev == 1:
                s = 2 if yp == 0 else (1 if yp == 1 else 0)
            elif prev == 2:
                s = 2 if xp == 0 else (1 if xp == 1 else 0)
            else:
                s = 2
            if c_idx == 0:
                if xs + ys > 0:
                    s += 3
                if log2 == 3:
                    s += 9 if scan_idx == 0 else 15
                else:
                    s += 21
            else:
                s += 9 if log2 == 3 else 12
        return s + (27 if c_idx else 0)

    def _rice(self, k: int) -> int:
        dec = self.dec
        prefix = 0
        while prefix < 32 and dec.decode_bypass():
            prefix += 1
        if prefix >= 32:
            raise ValueError("HEVC Rice prefix runaway")
        if prefix <= 3:
            return (prefix << k) + (dec.decode_bypass_bits(k)
                                    if k else 0)
        return dec.decode_bypass_bits(prefix - 3 + k) \
            + (((1 << (prefix - 3)) + 2) << k)

    # ----------------------------------------- dequant + inverse trafo
    def _dequant_itransform(self, coeff, log2, c_idx, tskip):
        qp_y = self._cu_qp()
        if c_idx == 0:
            qp = qp_y + self.qp_bd  # Qp'Y
        else:
            off = self.hdr["cb_qp_off"] if c_idx == 1 \
                else self.hdr["cr_qp_off"]
            qpi = min(max(qp_y + off, -self.qp_bd), 57)
            if qpi < 30:
                qp = qpi
            elif qpi > 43:
                qp = qpi - 6
            else:
                qp = _CHROMA_QP[qpi - 30]
            qp += self.qp_bd  # Qp'Cb/Cr
        if self.tqb:
            return coeff
        bd_shift = self.bd + log2 - 5
        scale = (_LEVEL_SCALE[qp % 6] << (qp // 6)) * 16
        d = coeff.astype(np.int64) * scale
        d = (d + (1 << (bd_shift - 1))) >> bd_shift
        d = np.clip(d, -32768, 32767)
        sh2 = 20 - self.bd
        if tskip:
            r = (d << 7)
            r = (r + (1 << (sh2 - 1))) >> sh2
            return np.clip(r, -32768, 32767).astype(np.int32)
        # 8.6.4: DST-VII for 4x4 luma (every CU is intra)
        t = _DST4 if (log2 == 2 and c_idx == 0) else _DCT[1 << log2]
        e = t.T @ d
        e = np.clip((e + 64) >> 7, -32768, 32767)
        r = e @ t
        r = np.clip((r + (1 << (sh2 - 1))) >> sh2, -32768, 32767)
        return r.astype(np.int32)

    # ------------------------------------------------- reconstruction
    def _recon(self, plane, x0, y0, log2, c_idx, mode, resid):
        pred = self._predict(plane, x0, y0, log2, c_idx, mode)
        if resid is None:
            out = pred
        else:
            out = np.clip(pred.astype(np.int32) + resid, 0,
                          self.maxval)
        n = 1 << log2
        plane[y0:y0 + n, x0:x0 + n] = out.astype(plane.dtype)

    def _refs(self, plane, x0, y0, n, c_idx):
        """8.4.4.2.2 reference array with substitution. Returns
        (top[2n+1], left[2n]) as int32; top[0] is the corner."""
        if c_idx == 0:
            pw, ph, sh = self.pic_w, self.pic_h, 0
        else:
            pw, ph, sh = self.pic_w >> 1, self.pic_h >> 1, 1

        def avail(x, y):
            if x < 0 or y < 0 or x >= pw or y >= ph:
                return False
            return bool(self.done4[(y << sh) >> 2, (x << sh) >> 2])

        vals = np.full(4 * n + 1, -1, np.int32)
        # order: left bottom-up is vals[0..2n-1] mapped from
        # p[-1][2n-1]..p[-1][0]; corner vals[2n]; top vals[2n+1..4n]
        for i in range(2 * n):
            yy = y0 + (2 * n - 1 - i)
            if avail(x0 - 1, yy):
                vals[i] = plane[yy, x0 - 1]
        if avail(x0 - 1, y0 - 1):
            vals[2 * n] = plane[y0 - 1, x0 - 1]
        for i in range(2 * n):
            xx = x0 + i
            if avail(xx, y0 - 1):
                vals[2 * n + 1 + i] = plane[y0 - 1, xx]
        if (vals < 0).all():
            vals[:] = 1 << (self.bd - 1)
        else:
            # substitution scan per 8.4.4.2.2
            if vals[0] < 0:
                j = int(np.argmax(vals >= 0))
                vals[0] = vals[j]
            for i in range(1, 4 * n + 1):
                if vals[i] < 0:
                    vals[i] = vals[i - 1]
        left = vals[:2 * n][::-1].copy()   # left[i] = p[-1][y0+i]
        corner = int(vals[2 * n])
        top = np.empty(2 * n + 1, np.int32)
        top[0] = corner
        top[1:] = vals[2 * n + 1:]
        return top, left

    def _predict(self, plane, x0, y0, log2, c_idx, mode):
        n = 1 << log2
        top, left = self._refs(plane, x0, y0, n, c_idx)
        # reference smoothing (8.4.4.2.3) — luma only
        if c_idx == 0 and mode != 1 and n > 4:
            dist = min(abs(mode - 26), abs(mode - 10))
            if mode == 0 or dist > _HV_DIST_THRES[log2]:
                if self.sps["strong_smoothing"] and n == 32 \
                        and abs(int(top[0]) + int(top[2 * n])
                                - 2 * int(top[n])) \
                        < (1 << (self.bd - 5)) \
                        and abs(int(top[0]) + int(left[2 * n - 1])
                                - 2 * int(left[n - 1])) \
                        < (1 << (self.bd - 5)):
                    c0, ctn = int(top[0]), int(top[2 * n])
                    cl = int(left[2 * n - 1])
                    x = np.arange(2 * n, dtype=np.int32)
                    ftop = np.empty_like(top)
                    ftop[0] = c0
                    ftop[1:] = ((63 - x) * c0 + (x + 1) * ctn
                                + 32) >> 6
                    ftop[2 * n] = ctn
                    fleft = ((63 - x) * c0 + (x + 1) * cl + 32) >> 6
                    fleft[2 * n - 1] = cl
                    top, left = ftop, fleft
                else:
                    ftop = top.copy()
                    fleft = left.copy()
                    ftop[0] = (int(left[0]) + 2 * int(top[0])
                               + int(top[1]) + 2) >> 2
                    ftop[1:2 * n] = (top[:2 * n - 1] + 2 * top[1:2 * n]
                                     + top[2:] + 2) >> 2
                    ext = np.concatenate(([top[0]], left))
                    fleft[:2 * n - 1] = (ext[:2 * n - 1]
                                         + 2 * ext[1:2 * n]
                                         + ext[2:] + 2) >> 2
                    top, left = ftop, fleft
        if mode == 0:
            return self._pred_planar(top, left, n, log2)
        if mode == 1:
            return self._pred_dc(top, left, n, log2, c_idx)
        return self._pred_angular(top, left, n, mode, c_idx,
                                  self.maxval)

    @staticmethod
    def _pred_planar(top, left, n, log2):
        """spec 8.4.4.2.4"""
        x = np.arange(n, dtype=np.int32)
        y = x[:, None]
        t = top[1:n + 1]
        lf = left[:n]
        tr = int(top[n + 1])   # p[nTbS][-1]
        bl = int(left[n])      # p[-1][nTbS]
        pred = ((n - 1 - x)[None, :] * lf[:, None]
                + (x + 1)[None, :] * tr
                + (n - 1 - y) * t[None, :]
                + (y + 1) * bl + n) >> (log2 + 1)
        return pred.astype(np.int32)

    @staticmethod
    def _pred_dc(top, left, n, log2, c_idx):
        dc = (int(top[1:n + 1].sum()) + int(left[:n].sum()) + n) \
            >> (log2 + 1)
        pred = np.full((n, n), dc, np.int32)
        if c_idx == 0 and n < 32:
            pred[0, 1:] = (top[2:n + 1] + 3 * dc + 2) >> 2
            pred[1:, 0] = (left[1:n] + 3 * dc + 2) >> 2
            pred[0, 0] = (int(left[0]) + 2 * dc + int(top[1]) + 2) >> 2
        return pred

    @staticmethod
    def _pred_angular(top, left, n, mode, c_idx, maxval=255):
        angle = _PRED_ANGLE[mode - 2]
        vertical = mode >= 18
        # main/side reference selection (8.4.4.2.6); ref[-n..2n] plus
        # one pad slot: at angle 32 the vectorized gather touches
        # ref[2n+1] with interpolation weight 0
        main = np.zeros(3 * n + 2, np.int32)
        base = n
        if vertical:
            main[n:3 * n + 1] = top[:2 * n + 1]    # ref[0..2n]
        else:
            main[n] = top[0]
            main[n + 1:3 * n + 1] = left[:2 * n]
        main[3 * n + 1] = main[3 * n]
        lo = (n * angle) >> 5
        if angle < 0 and lo < -1:
            inv = _INV_ANGLE[angle]
            side = left if vertical else top[1:]
            for xx in range(-1, lo - 1, -1):
                idx = ((xx * inv + 128) >> 8) - 1
                # p[-1][idx] / p[idx][-1]: idx == -1 is the corner
                main[base + xx] = top[0] if idx < 0 else side[idx]
        dist = np.arange(1, n + 1, dtype=np.int32) * angle
        i_idx = dist >> 5
        i_fact = dist & 31
        cols = np.arange(n, dtype=np.int32)
        a = main[base + cols[None, :] + i_idx[:, None] + 1]
        b = main[base + cols[None, :] + i_idx[:, None] + 2]
        pred = ((32 - i_fact)[:, None] * a + i_fact[:, None] * b
                + 16) >> 5
        # pred[row=y][col=x] for vertical; transpose for horizontal
        if vertical:
            out = pred
            if mode == 26 and c_idx == 0 and n < 32:
                out = out.copy()
                out[:, 0] = np.clip(
                    int(top[1]) + ((left[:n] - int(top[0])) >> 1),
                    0, maxval)
        else:
            out = pred.T
            if mode == 10 and c_idx == 0 and n < 32:
                out = out.copy()
                out[0, :] = np.clip(
                    int(left[0]) + ((top[1:n + 1] - int(top[0]))
                                    >> 1), 0, maxval)
        return out.astype(np.int32)

    # --------------------------------------------------- loop filters
    def _deblock(self):
        if self.hdr["deblock_disabled"]:
            return
        beta_off = self.hdr["beta_offset"]
        tc_off = self.hdr["tc_offset"]
        self._deblock_dir(True, beta_off, tc_off)
        self._deblock_dir(False, beta_off, tc_off)

    def _deblock_dir(self, vertical, beta_off, tc_off):
        y, cb, cr = self.y, self.cb, self.cr
        pic_w, pic_h = self.pic_w, self.pic_h
        edges = self.edge_v if vertical else self.edge_h
        n_seg_axis = pic_h if vertical else pic_w
        n_edge_axis = pic_w if vertical else pic_h
        for e8 in range(1, n_edge_axis // 8 + (1 if n_edge_axis % 8
                                               else 0)):
            pos = e8 * 8
            if pos >= n_edge_axis:
                break
            for seg in range(0, n_seg_axis, 4):
                if vertical:
                    if not self.edge_v[seg >> 2, e8]:
                        continue
                else:
                    if not self.edge_h[e8, seg >> 2]:
                        continue
                seg_len = min(4, n_seg_axis - seg)
                if seg_len < 4:
                    continue
                self._deblock_luma_seg(vertical, pos, seg, beta_off,
                                       tc_off)
            # chroma: edges on 16-luma grid
            if pos % 16 == 0:
                for seg in range(0, n_seg_axis, 4):
                    if vertical:
                        if not self.edge_v[seg >> 2, e8]:
                            continue
                    else:
                        if not self.edge_h[e8, seg >> 2]:
                            continue
                    self._deblock_chroma_seg(vertical, pos, seg,
                                             tc_off)

    def _qp_at(self, x, y):
        return int(self.qp4[y >> 2, x >> 2])

    def _deblock_luma_seg(self, vertical, pos, seg, beta_off, tc_off):
        """Filter one 4-line luma segment across an 8x8-grid edge
        (spec 8.7.2.5.3/8.7.2.5.7); bS = 2 everywhere (intra)."""
        y = self.y

        def get(side, line):
            # side<0: p side; side>=0: q side
            if vertical:
                return int(y[seg + line, pos + side])
            return int(y[pos + side, seg + line])

        def put(side, line, v):
            if vertical:
                y[seg + line, pos + side] = v
            else:
                y[pos + side, seg + line] = v

        if vertical:
            qp_p = self._qp_at(pos - 1, seg)
            qp_q = self._qp_at(pos, seg)
        else:
            qp_p = self._qp_at(seg, pos - 1)
            qp_q = self._qp_at(seg, pos)
        qp_l = (qp_p + qp_q + 1) >> 1
        sh = self.bd - 8
        beta = _BETA_TAB[min(max(qp_l + beta_off, 0), 51)] << sh
        # tC index qp + 2*(bS-1) + tc_offset, with bS = 2 (intra)
        tc = _TC_TAB[min(max(qp_l + 2 + tc_off, 0),
                         53)] << sh
        if beta == 0:
            return
        p = [[get(-1 - i, ln) for i in range(4)] for ln in range(4)]
        q = [[get(i, ln) for i in range(4)] for ln in range(4)]
        dp0 = abs(p[0][2] - 2 * p[0][1] + p[0][0])
        dp3 = abs(p[3][2] - 2 * p[3][1] + p[3][0])
        dq0 = abs(q[0][2] - 2 * q[0][1] + q[0][0])
        dq3 = abs(q[3][2] - 2 * q[3][1] + q[3][0])
        d = dp0 + dq0 + dp3 + dq3
        if d >= beta:
            return
        strong = True
        for ln in (0, 3):
            dpq = (dp0 + dq0) if ln == 0 else (dp3 + dq3)
            if not (2 * dpq < (beta >> 2)
                    and abs(p[ln][3] - p[ln][0])
                    + abs(q[ln][0] - q[ln][3]) < (beta >> 3)
                    and abs(p[ln][0] - q[ln][0])
                    < ((5 * tc + 1) >> 1)):
                strong = False
                break
        if strong:
            for ln in range(4):
                pl, ql = p[ln], q[ln]
                c2 = 2 * tc

                def cl(v, ref):
                    return min(max(v, ref - c2), ref + c2)
                p0 = cl((pl[2] + 2 * pl[1] + 2 * pl[0] + 2 * ql[0]
                         + ql[1] + 4) >> 3, pl[0])
                p1 = cl((pl[2] + pl[1] + pl[0] + ql[0] + 2) >> 2,
                        pl[1])
                p2 = cl((2 * pl[3] + 3 * pl[2] + pl[1] + pl[0]
                         + ql[0] + 4) >> 3, pl[2])
                q0 = cl((ql[2] + 2 * ql[1] + 2 * ql[0] + 2 * pl[0]
                         + pl[1] + 4) >> 3, ql[0])
                q1 = cl((ql[2] + ql[1] + ql[0] + pl[0] + 2) >> 2,
                        ql[1])
                q2 = cl((2 * ql[3] + 3 * ql[2] + ql[1] + ql[0]
                         + pl[0] + 4) >> 3, ql[2])
                for i, v in ((0, p0), (1, p1), (2, p2)):
                    put(-1 - i, ln, v)
                for i, v in ((0, q0), (1, q1), (2, q2)):
                    put(i, ln, v)
        else:
            dep = (dp0 + dp3) < ((beta + (beta >> 1)) >> 3)
            deq = (dq0 + dq3) < ((beta + (beta >> 1)) >> 3)
            for ln in range(4):
                pl, ql = p[ln], q[ln]
                delta = (9 * (ql[0] - pl[0]) - 3 * (ql[1] - pl[1])
                         + 8) >> 4
                if abs(delta) >= 10 * tc:
                    continue
                delta = min(max(delta, -tc), tc)
                mx = self.maxval
                put(-1, ln, min(max(pl[0] + delta, 0), mx))
                put(0, ln, min(max(ql[0] - delta, 0), mx))
                half = tc >> 1
                if dep:
                    dp = min(max((((pl[2] + pl[0] + 1) >> 1) - pl[1]
                                  + delta) >> 1, -half), half)
                    put(-2, ln, min(max(pl[1] + dp, 0), mx))
                if deq:
                    dq = min(max((((ql[2] + ql[0] + 1) >> 1) - ql[1]
                                  - delta) >> 1, -half), half)
                    put(1, ln, min(max(ql[1] + dq, 0), mx))

    def _deblock_chroma_seg(self, vertical, pos, seg, tc_off):
        """8.7.2.5.5: chroma filtered only for bS==2 (always, intra);
        `pos`/`seg` are LUMA coordinates on the 16/4 grids."""
        cpos = pos >> 1
        for plane, qp_off in ((self.cb, self.pps["cb_qp_offset"]),
                              (self.cr, self.pps["cr_qp_offset"])):
            if vertical:
                qp_p = self._qp_at(pos - 1, seg)
                qp_q = self._qp_at(pos, seg)
            else:
                qp_p = self._qp_at(seg, pos - 1)
                qp_q = self._qp_at(seg, pos)
            qpi = min(max(((qp_p + qp_q + 1) >> 1) + qp_off, 0), 57)
            if qpi < 30:
                qpc = qpi
            elif qpi > 43:
                qpc = qpi - 6
            else:
                qpc = _CHROMA_QP[qpi - 30]
            tc = _TC_TAB[min(max(qpc + 2 + tc_off, 0), 53)] \
                << (self.bd - 8)
            if tc == 0:
                continue
            for ln in range(2):   # 4 luma lines = 2 chroma lines
                cl = (seg >> 1) + ln
                if vertical:
                    if cl >= self.pic_h >> 1:
                        continue
                    p1 = int(plane[cl, cpos - 2])
                    p0 = int(plane[cl, cpos - 1])
                    q0 = int(plane[cl, cpos])
                    q1 = int(plane[cl, cpos + 1])
                else:
                    if cl >= self.pic_w >> 1:
                        continue
                    p1 = int(plane[cpos - 2, cl])
                    p0 = int(plane[cpos - 1, cl])
                    q0 = int(plane[cpos, cl])
                    q1 = int(plane[cpos + 1, cl])
                delta = min(max((((q0 - p0) << 2) + p1 - q1 + 4) >> 3,
                                -tc), tc)
                mx = self.maxval
                if vertical:
                    plane[cl, cpos - 1] = min(max(p0 + delta, 0), mx)
                    plane[cl, cpos] = min(max(q0 - delta, 0), mx)
                else:
                    plane[cpos - 1, cl] = min(max(p0 + delta, 0), mx)
                    plane[cpos, cl] = min(max(q0 - delta, 0), mx)

    # ------------------------------------------------------------- SAO
    def _apply_sao(self):
        if not any(p is not None for p in self.sao_params):
            return
        src_y = self.y.copy()
        src_cb = self.cb.copy()
        src_cr = self.cr.copy()
        for addr, params in enumerate(self.sao_params):
            if not params:
                continue
            cy, cx = divmod(addr, self.w_ctbs)
            x0, y0 = cx * self.ctb, cy * self.ctb
            for c_idx, (plane, src) in enumerate(
                    ((self.y, src_y), (self.cb, src_cb),
                     (self.cr, src_cr))):
                p = params[c_idx]
                if not p or p[0] == 0:
                    continue
                sh = 0 if c_idx == 0 else 1
                bx0, by0 = x0 >> sh, y0 >> sh
                bw = min(self.ctb >> sh, (self.pic_w >> sh) - bx0)
                bh = min(self.ctb >> sh, (self.pic_h >> sh) - by0)
                if bw <= 0 or bh <= 0:
                    continue
                if p[0] == 1:
                    self._sao_band(plane, src, bx0, by0, bw, bh,
                                   p[1], p[2], self.bd, self.maxval)
                else:
                    self._sao_edge(plane, src, bx0, by0, bw, bh,
                                   p[1], p[3], sh)

    @staticmethod
    def _sao_band(plane, src, x0, y0, w, h, offs, band_pos, bd,
                  maxval):
        blk = src[y0:y0 + h, x0:x0 + w].astype(np.int32)
        bands = blk >> (bd - 5)
        out = blk.copy()
        for k in range(4):
            out[bands == ((band_pos + k) & 31)] += offs[k]
        plane[y0:y0 + h, x0:x0 + w] = np.clip(
            out, 0, maxval).astype(plane.dtype)

    def _sao_edge(self, plane, src, x0, y0, w, h, offs, eo, sh):
        pw = self.pic_w >> sh
        ph = self.pic_h >> sh
        dxy = (((-1, 0), (1, 0)), ((0, -1), (0, 1)),
               ((-1, -1), (1, 1)), ((1, -1), (-1, 1)))[eo]
        (ax, ay), (bx, by) = dxy
        xlo = max(x0, 0 - min(ax, bx, 0))
        xhi = min(x0 + w, pw - max(ax, bx, 0))
        ylo = max(y0, 0 - min(ay, by, 0))
        yhi = min(y0 + h, ph - max(ay, by, 0))
        if xlo >= xhi or ylo >= yhi:
            return
        cur = src[ylo:yhi, xlo:xhi].astype(np.int32)
        n0 = src[ylo + ay:yhi + ay, xlo + ax:xhi + ax].astype(np.int32)
        n1 = src[ylo + by:yhi + by, xlo + bx:xhi + bx].astype(np.int32)
        edge = 2 + np.sign(cur - n0) + np.sign(cur - n1)
        out = cur.copy()
        # edgeTable {1,2,0,3,4} -> offsets for categories 1..4
        for raw, cat in ((0, 1), (1, 2), (3, 3), (4, 4)):
            out[edge == raw] += offs[cat - 1]
        plane[ylo:yhi, xlo:xhi] = np.clip(
            out, 0, self.maxval).astype(plane.dtype)


def decode_intra_au(sps: dict, pps: dict, slices, parse_header):
    """Decode an I-only access unit; `slices` is [(nal_type, rbsp,
    epb_pos)] (epb_pos optional per entry), `parse_header` is
    hevc._parse_slice_header. Returns full-size (y, cb, cr) planes;
    caller crops."""
    d = IntraDecoder(sps, pps)
    for entry in slices:
        nal_type, rbsp = entry[0], entry[1]
        epb_pos = entry[2] if len(entry) > 2 else ()
        r = _BitReader(rbsp)
        hdr = parse_header(r, nal_type, sps, pps)
        d.decode_slice(rbsp, hdr, r.pos, epb_pos)
    if not d.seen.all():
        raise ValueError("HEVC slices do not cover the frame")
    d._deblock()
    d._apply_sao()
    return d.y, d.cb, d.cr


# =====================================================================
# Lossless intra ENCODER (cu_transquant_bypass): the mirror of the
# decoder above, with fixed geometry CTB = CU = TU = 16 (chroma 8),
# every CU PART_2Nx2N with one luma mode chosen via the decoder's own
# MPM machinery, SDH off, loop filters off. Because transquant bypass
# codes the spatial residual exactly, any conformant decoder
# reconstructs the SOURCE planes byte-exactly — the system libde265
# verifies that in tests, which falsifies this encoder AND (by
# construction-symmetry) the residual/prediction clauses of the
# decoder against an independent implementation.
# =====================================================================

def _sps_lossless_rbsp(pic_w, pic_h, crop_r, crop_b, bit_depth=8):
    from ragflow_ocr_spark.kernels.hevc import _BitWriter, _write_ptl

    bw = _BitWriter()
    bw.u(0, 4)  # sps_video_parameter_set_id
    bw.u(0, 3)  # sps_max_sub_layers_minus1
    bw.u(1, 1)  # sps_temporal_id_nesting_flag
    _write_ptl(bw)
    bw.ue(0)    # sps_seq_parameter_set_id
    bw.ue(1)    # chroma_format_idc: 4:2:0
    bw.ue(pic_w)
    bw.ue(pic_h)
    if crop_r or crop_b:
        bw.u(1, 1)
        bw.ue(0), bw.ue(crop_r // 2), bw.ue(0), bw.ue(crop_b // 2)
    else:
        bw.u(0, 1)
    bw.ue(bit_depth - 8)    # bit_depth_luma_minus8
    bw.ue(bit_depth - 8)    # bit_depth_chroma_minus8
    bw.ue(4)    # log2_max_pic_order_cnt_lsb_minus4 (8-bit POC)
    bw.u(0, 1)  # sps_sub_layer_ordering_info_present_flag
    bw.ue(0), bw.ue(0), bw.ue(0)
    bw.ue(1)    # log2_min_luma_cb_size_minus3 (16)
    bw.ue(0)    # log2_diff_max_min_luma_cb (CTB 16)
    bw.ue(0)    # log2_min_luma_transform_block_size_minus2 (4)
    bw.ue(2)    # log2_diff_max_min_luma_transform_block_size (16)
    bw.ue(0)    # max_transform_hierarchy_depth_inter
    bw.ue(0)    # max_transform_hierarchy_depth_intra
    bw.u(0, 1)  # scaling_list_enabled_flag
    bw.u(0, 1)  # amp_enabled_flag
    bw.u(0, 1)  # sample_adaptive_offset_enabled_flag
    bw.u(0, 1)  # pcm_enabled_flag
    bw.ue(0)    # num_short_term_ref_pic_sets
    bw.u(0, 1)  # long_term_ref_pics_present_flag
    bw.u(0, 1)  # sps_temporal_mvp_enabled_flag
    bw.u(0, 1)  # strong_intra_smoothing_enabled_flag
    bw.u(0, 1)  # vui_parameters_present_flag
    bw.u(0, 1)  # sps_extension_flag
    return bw.rbsp_trailing()


def _pps_lossless_rbsp():
    from ragflow_ocr_spark.kernels.hevc import _BitWriter

    bw = _BitWriter()
    bw.ue(0)    # pps_pic_parameter_set_id
    bw.ue(0)    # pps_seq_parameter_set_id
    bw.u(0, 1)  # dependent_slice_segments_enabled_flag
    bw.u(0, 1)  # output_flag_present_flag
    bw.u(0, 3)  # num_extra_slice_header_bits
    bw.u(0, 1)  # sign_data_hiding_enabled_flag
    bw.u(0, 1)  # cabac_init_present_flag
    bw.ue(0), bw.ue(0)
    bw.se(0)    # init_qp_minus26
    bw.u(0, 1)  # constrained_intra_pred_flag
    bw.u(0, 1)  # transform_skip_enabled_flag
    bw.u(0, 1)  # cu_qp_delta_enabled_flag
    bw.se(0), bw.se(0)  # pps cb/cr qp offsets
    bw.u(0, 1)  # pps_slice_chroma_qp_offsets_present_flag
    bw.u(0, 1), bw.u(0, 1)  # weighted pred flags
    bw.u(1, 1)  # transquant_bypass_enabled_flag
    bw.u(0, 1)  # tiles_enabled_flag
    bw.u(0, 1)  # entropy_coding_sync_enabled_flag
    bw.u(0, 1)  # pps_loop_filter_across_slices_enabled_flag
    bw.u(1, 1)  # deblocking_filter_control_present_flag
    bw.u(0, 1)  # deblocking_filter_override_enabled_flag
    bw.u(1, 1)  # pps_deblocking_filter_disabled_flag
    bw.u(0, 1)  # pps_scaling_list_data_present_flag
    bw.u(0, 1)  # lists_modification_present_flag
    bw.ue(0)    # log2_parallel_merge_level_minus2
    bw.u(0, 1)  # slice_segment_header_extension_present_flag
    bw.u(0, 1)  # pps_extension_flag
    return bw.rbsp_trailing()


def _enc_rice(enc, v, k):
    """Encode coeff_abs_level_remaining (dual of _rice)."""
    if v < (4 << k):
        p = v >> k
        for _ in range(p):
            enc.encode_bypass(1)
        enc.encode_bypass(0)
        if k:
            enc.encode_bypass_bits(v & ((1 << k) - 1), k)
        return
    s = v.bit_length() - 1 - 1 - k  # v >= (2+b) << (s+k)
    while (((1 << (s + 1)) + 2) << k) <= v:
        s += 1
    while (((1 << s) + 2) << k) > v:
        s -= 1
    base = ((1 << s) + 2) << k
    p = s + 3
    for _ in range(p):
        enc.encode_bypass(1)
    enc.encode_bypass(0)
    enc.encode_bypass_bits(v - base, s + k)


def _enc_last_prefix(enc, ctx_tab, v, cmax, off, shift):
    p = v if v <= 3 else 2 * (v.bit_length() - 2) + 2 + \
        ((v >> (v.bit_length() - 2)) & 1)
    for i in range(p):
        enc.encode_decision(ctx_tab[off + (i >> shift)], 1)
    if p < cmax:
        enc.encode_decision(ctx_tab[off + (p >> shift)], 0)
    return p


def _enc_residual(enc, ctx, coeff, log2, c_idx):
    """Encode residual_coding (diag scan, SDH off, tqb levels)."""
    n = 1 << log2
    scan_idx = 0
    pos_scan = _SCANS[(2, scan_idx)]
    sb_log2 = log2 - 2
    sb_scan = _SCANS[(sb_log2, scan_idx)] if sb_log2 else [(0, 0)]
    # last significant position in scan order
    last_flat = -1
    for i_sb, (xs, ys) in enumerate(sb_scan):
        for i_p, (xp, yp) in enumerate(pos_scan):
            if coeff[(ys << 2) + yp, (xs << 2) + xp]:
                last_flat = i_sb * 16 + i_p
    if last_flat < 0:
        raise ValueError("residual encoder called with all-zero block")
    last_sb, last_pos = divmod(last_flat, 16)
    xs, ys = sb_scan[last_sb]
    xp, yp = pos_scan[last_pos]
    lx, ly = (xs << 2) + xp, (ys << 2) + yp
    cmax = (log2 << 1) - 1
    if c_idx == 0:
        off = 3 * (log2 - 2) + ((log2 - 1) >> 2)
        shift = (log2 + 1) >> 2
    else:
        off, shift = 15, log2 - 2
    for v, tab in ((lx, ctx["last_x"]), (ly, ctx["last_y"])):
        _enc_last_prefix(enc, tab, v, cmax, off, shift)
    for v in (lx, ly):
        if v > 3:
            s = v.bit_length() - 2
            enc.encode_bypass_bits(v - ((2 + ((v >> s) & 1)) << s), s)
    csbf = np.zeros((n >> 2, n >> 2), np.uint8)
    for i_sb, (xs, ys) in enumerate(sb_scan):
        blk = coeff[ys << 2:(ys << 2) + 4, xs << 2:(xs << 2) + 4]
        csbf[ys, xs] = 1 if blk.any() else 0
    prev_gt1_ctx = 1
    first_subset = True
    for i in range(last_sb, -1, -1):
        xs, ys = sb_scan[i]
        blk = coeff[ys << 2:(ys << 2) + 4, xs << 2:(xs << 2) + 4]
        infer_dc = False
        if i < last_sb and i > 0:
            cinc = 0
            if xs + 1 < csbf.shape[1] and csbf[ys, xs + 1]:
                cinc = 1
            elif ys + 1 < csbf.shape[0] and csbf[ys + 1, xs]:
                cinc = 1
            enc.encode_decision(ctx["csbf"][cinc + (2 if c_idx else 0)],
                                int(csbf[ys, xs]))
            if not csbf[ys, xs]:
                continue
            infer_dc = True
        # significance flags
        start = last_pos - 1 if i == last_sb else 15
        any_sig = i == last_sb
        sig = [False] * 16
        if i == last_sb:
            sig[last_pos] = True
        for np_ in range(start, -1, -1):
            xp, yp = pos_scan[np_]
            v = int(blk[yp, xp])
            if np_ == 0 and infer_dc and not any_sig:
                if v == 0:
                    raise ValueError("inferred DC sig but DC is zero")
                sig[0] = True
                break
            xc, yc = (xs << 2) + xp, (ys << 2) + yp
            # reuse the decoder's context derivation
            s = IntraDecoder._sig_ctx(None, log2, c_idx, scan_idx, xc,
                                      yc, xp, yp, xs, ys, csbf)
            enc.encode_decision(ctx["sig"][s], 1 if v else 0)
            if v:
                sig[np_] = True
                any_sig = True
        order = [np_ for np_ in range(15, -1, -1) if sig[np_]]
        if not order:
            continue
        levels = {np_: abs(int(blk[pos_scan[np_][1],
                                   pos_scan[np_][0]])) for np_ in order}
        ctx_set = (0 if (i == 0 or c_idx > 0) else 2)
        if not first_subset and prev_gt1_ctx == 0:
            ctx_set += 1
        first_subset = False
        gt1_ctx = 1
        gt1 = {}
        for j, np_ in enumerate(order[:8]):
            f = 1 if levels[np_] > 1 else 0
            cinc = ctx_set * 4 + min(3, gt1_ctx) + (16 if c_idx else 0)
            enc.encode_decision(ctx["gt1"][cinc], f)
            gt1[np_] = f
            if f:
                gt1_ctx = 0
            elif gt1_ctx:
                gt1_ctx += 1
        prev_gt1_ctx = gt1_ctx
        gt2_pos = next((p for p in order[:8] if gt1.get(p)), None)
        gt2 = 0
        if gt2_pos is not None:
            gt2 = 1 if levels[gt2_pos] > 2 else 0
            enc.encode_decision(ctx["gt2"][ctx_set
                                           + (4 if c_idx else 0)], gt2)
        for np_ in order:   # signs (SDH off in this PPS)
            xp, yp = pos_scan[np_]
            enc.encode_bypass(1 if blk[yp, xp] < 0 else 0)
        rice = 0
        for j, np_ in enumerate(order):
            base = 1
            if j < 8:
                base += gt1.get(np_, 0)
                if np_ == gt2_pos:
                    base += gt2
            has_rem = (j >= 8) or (gt1.get(np_, 0)
                                   and (np_ != gt2_pos or gt2))
            lvl = levels[np_]
            if has_rem:
                _enc_rice(enc, lvl - base, rice)
            if lvl > 3 << rice:
                rice = min(rice + 1, 4)


def _encode_intra_cu16(state, enc, ctx, x0, y0, yp, up, vp):
    """Encode one 16x16 intra CU (PART_2Nx2N, DM chroma) losslessly
    against the decoder-twin `state` — shared by the still encoder
    and the P-GOP encoder's forced-intra CUs."""
    ctb = 16
    enc.encode_decision(ctx["part_mode"][0], 1)  # PART_2Nx2N
    mpm = state._mpm(x0, y0)
    mode = 1 if 1 in mpm else 0 if 0 in mpm else mpm[0]
    idx = mpm.index(mode)
    enc.encode_decision(ctx["prev_intra"][0], 1)
    enc.encode_bypass(0 if idx == 0 else 1)
    if idx:
        enc.encode_bypass(idx - 1)
    state.mode4[y0 >> 2:(y0 + ctb) >> 2,
                x0 >> 2:(x0 + ctb) >> 2] = mode
    state.parsed4[y0 >> 2:(y0 + ctb) >> 2,
                  x0 >> 2:(x0 + ctb) >> 2] = True
    enc.encode_decision(ctx["intra_chroma"][0], 0)  # DM
    # transform tree: TU == CU == 16, no split flag signalled
    src_y = yp[y0:y0 + ctb, x0:x0 + ctb].astype(np.int32)
    pred_y = state._predict(state.y, x0, y0, 4, 0, mode)
    res_y = src_y - pred_y
    state.y[y0:y0 + ctb, x0:x0 + ctb] = src_y.astype(state.y.dtype)
    state.done4[y0 >> 2:(y0 + ctb) >> 2,
                x0 >> 2:(x0 + ctb) >> 2] = True
    cx0, cy0 = x0 >> 1, y0 >> 1
    half = ctb >> 1
    src_cb = up[cy0:cy0 + half, cx0:cx0 + half].astype(np.int32)
    src_cr = vp[cy0:cy0 + half, cx0:cx0 + half].astype(np.int32)
    pred_cb = state._predict(state.cb, cx0, cy0, 3, 1, mode)
    res_cb = src_cb - pred_cb
    state.cb[cy0:cy0 + half, cx0:cx0 + half] = \
        src_cb.astype(state.cb.dtype)
    pred_cr = state._predict(state.cr, cx0, cy0, 3, 2, mode)
    res_cr = src_cr - pred_cr
    state.cr[cy0:cy0 + half, cx0:cx0 + half] = \
        src_cr.astype(state.cr.dtype)
    cbf_cb = bool(res_cb.any())
    cbf_cr = bool(res_cr.any())
    cbf_luma = bool(res_y.any())
    enc.encode_decision(ctx["cbf_chroma"][0], int(cbf_cb))
    enc.encode_decision(ctx["cbf_chroma"][0], int(cbf_cr))
    enc.encode_decision(ctx["cbf_luma"][1], int(cbf_luma))
    if cbf_luma:
        _enc_residual(enc, ctx, res_y, 4, 0)
    if cbf_cb:
        _enc_residual(enc, ctx, res_cb, 3, 1)
    if cbf_cr:
        _enc_residual(enc, ctx, res_cr, 3, 2)
    # the caller's qp bookkeeping (slice QP everywhere in this layer)
    state.depth4[y0 >> 2:(y0 + ctb) >> 2,
                 x0 >> 2:(x0 + ctb) >> 2] = 0
    state.qp4[y0 >> 2:(y0 + ctb) >> 2,
              x0 >> 2:(x0 + ctb) >> 2] = 26


def encode_hevc_intra_lossless_yuv(y, u, v, bit_depth: int = 8
                                   ) -> bytes:
    """YUV420 planes -> Annex-B IDR access unit of transquant-bypass
    intra CUs (CTB = CU = TU = 16). Byte-exact: any conformant
    decoder reconstructs the planes exactly (libde265-verified in
    tests). Luma dims must be even. bit_depth 8 (uint8 planes) or
    10 (uint16 planes, values < 1024) — Main10."""
    from ragflow_ocr_spark.kernels import hevc as H
    from ragflow_ocr_spark.kernels.hevc import _BitWriter

    if bit_depth not in (8, 10):
        raise ValueError("bit_depth must be 8 or 10")
    dt = np.uint8 if bit_depth == 8 else np.uint16
    y = np.asarray(y, dt)
    h, w = y.shape
    if w % 2 or h % 2 or w < 2 or h < 2 or w * h > H.MAX_HEVC_PIXELS:
        raise ValueError("encode_hevc_intra_lossless_yuv needs even "
                         "dims in budget")
    ch, cw = (h + 1) // 2, (w + 1) // 2
    u = np.asarray(u, dt)
    v = np.asarray(v, dt)
    if u.shape != (ch, cw) or v.shape != (ch, cw):
        raise ValueError("chroma plane shape mismatch")
    if bit_depth == 10 and max(int(y.max()), int(u.max()),
                               int(v.max())) > 1023:
        raise ValueError("10-bit plane values must be < 1024")
    ctb = 16
    w_ctbs, h_ctbs = -(-w // ctb), -(-h // ctb)
    pic_w, pic_h = w_ctbs * ctb, h_ctbs * ctb
    yp = np.pad(y, ((0, pic_h - h), (0, pic_w - w)), "edge")
    up = np.pad(u, ((0, pic_h // 2 - ch), (0, pic_w // 2 - cw)),
                "edge")
    vp = np.pad(v, ((0, pic_h // 2 - ch), (0, pic_w // 2 - cw)),
                "edge")

    sps_rbsp = _sps_lossless_rbsp(pic_w, pic_h, pic_w - w, pic_h - h,
                                  bit_depth)
    pps_rbsp = _pps_lossless_rbsp()
    sps = H.parse_sps(sps_rbsp)
    pps = H.parse_pps(pps_rbsp)
    state = IntraDecoder(sps, pps)

    bw = _BitWriter()
    bw.u(1, 1)  # first_slice_segment_in_pic_flag
    bw.u(0, 1)  # no_output_of_prior_pics_flag
    bw.ue(0)    # slice_pic_parameter_set_id
    bw.ue(2)    # slice_type: I
    bw.se(0)    # slice_qp_delta (QP 26)
    bw.u(1, 1)  # alignment_bit_equal_to_one
    bw.byte_align_zero()

    enc = H._CabacEncoder(bw)
    ctx = _Ctx(26).t
    n_ctbs = w_ctbs * h_ctbs
    for addr in range(n_ctbs):
        cy, cx = divmod(addr, w_ctbs)
        x0, y0 = cx * ctb, cy * ctb
        # log2CbSize == MinCbLog2: no split_cu_flag
        enc.encode_decision(ctx["tqb"][0], 1)
        _encode_intra_cu16(state, enc, ctx, x0, y0, yp, up, vp)
        last = addr == n_ctbs - 1
        enc.encode_terminate(1 if last else 0)
        if last:
            enc.flush()
    bw.byte_align_zero()
    slice_rbsp = bytes(bw.out)
    out = bytearray()
    for nal in (H._nal(H.NAL_VPS, H._vps_rbsp()),
                H._nal(H.NAL_SPS, sps_rbsp),
                H._nal(H.NAL_PPS, pps_rbsp),
                H._nal_hdr(H.NAL_IDR_W_RADL) + H._add_epb(slice_rbsp)):
        out += b"\x00\x00\x00\x01" + nal
    return bytes(out)
