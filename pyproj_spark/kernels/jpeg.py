"""JPEG (JFIF) codec — stdlib + numpy only, no image library.

Implements the ITU-T T.81 baseline sequential (SOF0/1) AND progressive
(SOF2) DCT processes from the public spec: marker parsing
(DQT/DHT/SOF/SOS/DRI), Huffman entropy decoding with byte-stuffing and
restart markers, the full Annex G progressive scan grammar (spectral
selection, successive approximation for DC and AC, EOBRUN, correction
bits), dequantization, zigzag reorder, a vectorized separable IDCT,
chroma upsampling (4:4:4 / 4:2:2 / 4:2:0), and the JFIF YCbCr->RGB
transform.

Matching fixture ENCODERS (baseline with standard Annex K Huffman
tables; progressive with a flat AC table so EOBRUN symbols are
codable) let the tests and the synthetic-data generator produce real
JPEGs deterministically, so both decode paths are exercised end-to-end
without any external codec — and since both encoders transmit the same
quantized coefficients, progressive decode must equal baseline decode
pixel-for-pixel, a self-checking exactness property the tests assert.

Reference surface parity: fills the decode slot that
``operators/multimodal.py`` previously stubbed for JPEG (the PNG slot
was already real); analogous to what a training pipeline would do with
PIL/cv2, but self-contained.
"""

from __future__ import annotations

import struct

import numpy as np

from pyproj_spark.kernels import decoder

# ITU-T T.81 Figure A.6 zigzag order: zigzag index -> raster index
ZIGZAG = np.array([
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
], dtype=np.int64)

# 8-point DCT-II basis matrix: C[u, x] = a(u) cos((2x+1) u pi / 16)
_DCT = np.zeros((8, 8))
for _u in range(8):
    _a = np.sqrt(0.125) if _u == 0 else 0.5
    for _x in range(8):
        _DCT[_u, _x] = _a * np.cos((2 * _x + 1) * _u * np.pi / 16.0)

# Annex K.3 typical Huffman tables: (bits[1..16], huffval)
_STD_DC_LUMA = (
    [0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0],
    list(range(12)))
_STD_DC_CHROMA = (
    [0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0],
    list(range(12)))
_STD_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D],
    [0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
     0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
     0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
     0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
     0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
     0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
     0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
     0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
     0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
     0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
     0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
     0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
     0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
     0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])
_STD_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77],
    [0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
     0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
     0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
     0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
     0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
     0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
     0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
     0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
     0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
     0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
     0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
     0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
     0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
     0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
     0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA])


def _build_decode_table(bits, huffval):
    """(code -> (length, value)) lookup per T.81 Annex C code assignment,
    keyed by (length, code) for the sequential bit-reader."""
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[(length, code)] = huffval[k]
            code += 1
            k += 1
        code <<= 1
    return table


class _BitReader:
    """MSB-first bit reader over an entropy-coded segment with JPEG
    byte-stuffing (0xFF 0x00) removed on the fly; stops at markers."""

    def __init__(self, data: bytes, pos: int):
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0

    def _fill(self):
        d = self.data
        if self.pos >= len(d):
            raise ValueError("JPEG entropy data exhausted")
        byte = d[self.pos]
        if byte == 0xFF:
            nxt = d[self.pos + 1] if self.pos + 1 < len(d) else 0xD9
            if nxt == 0x00:
                self.pos += 2
            elif 0xD0 <= nxt <= 0xD7:
                raise _RestartMarker(nxt)
            else:
                raise ValueError(f"unexpected marker FF{nxt:02X} "
                                 "inside entropy data")
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | byte
        self.nbits += 8

    def read_bit(self) -> int:
        if self.nbits == 0:
            self._fill()
        self.nbits -= 1
        return (self.acc >> self.nbits) & 1

    def read_bits(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.read_bit()
        return v

    def align_and_consume_rst(self):
        """Byte-align and consume one RSTn marker (T.81 E.2.4)."""
        self.acc = 0
        self.nbits = 0
        d = self.data
        while self.pos + 1 < len(d):
            if d[self.pos] == 0xFF and 0xD0 <= d[self.pos + 1] <= 0xD7:
                self.pos += 2
                return
            self.pos += 1
        raise ValueError("expected restart marker")


class _RestartMarker(Exception):
    def __init__(self, marker):
        self.marker = marker


def _decode_huffman(reader: _BitReader, table) -> int:
    code = 0
    for length in range(1, 17):
        code = (code << 1) | reader.read_bit()
        v = table.get((length, code))
        if v is not None:
            return v
    raise ValueError("invalid Huffman code")


def _extend(v: int, t: int) -> int:
    """T.81 F.2.2.1 sign extension of a t-bit magnitude."""
    if t == 0:
        return 0
    return v if v >= (1 << (t - 1)) else v - (1 << t) + 1


@decoder
def decode_jpeg(b: bytes) -> np.ndarray:
    """Decode a baseline (SOF0/1) or progressive (SOF2) JPEG to an
    (h, w, c) uint8 array (c = 1 for grayscale, 3 for YCbCr->RGB).
    Supports 1 or 3 components, sampling factors up to 2x2 (4:4:4 /
    4:2:2 / 4:2:0), restart intervals, and the full progressive scan
    grammar: spectral selection plus successive approximation for DC
    and AC (T.81 Annex G — EOBRUN, ZRL-in-refinement, correction
    bits). Raises ValueError on malformed input, NotImplementedError
    on hierarchical/arithmetic/12-bit variants."""
    if b[:2] != b"\xff\xd8":
        raise ValueError("not a JPEG")
    qt = {}
    huff_dc = {}
    huff_ac = {}
    frame = None
    restart_interval = 0
    scanned = False
    pos = 2
    n = len(b)
    while pos + 2 <= n:
        if b[pos] != 0xFF:
            raise ValueError("marker expected")
        marker = b[pos + 1]
        if marker == 0xD9:  # EOI
            break
        if pos + 4 > n:
            raise ValueError("truncated JPEG")
        (seg_len,) = struct.unpack(">H", b[pos + 2:pos + 4])
        seg = b[pos + 4:pos + 2 + seg_len]
        pos += 2 + seg_len
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(seg):
                pq, tq = seg[i] >> 4, seg[i] & 0x0F
                i += 1
                if pq == 0:
                    tbl = np.frombuffer(seg[i:i + 64],
                                        dtype=np.uint8).astype(np.float64)
                    i += 64
                else:
                    tbl = np.frombuffer(seg[i:i + 128],
                                        dtype=">u2").astype(np.float64)
                    i += 128
                qt[tq] = tbl  # zigzag order
        elif marker == 0xC4:  # DHT
            i = 0
            while i < len(seg):
                tc, th = seg[i] >> 4, seg[i] & 0x0F
                bits = list(seg[i + 1:i + 17])
                nv = sum(bits)
                vals = list(seg[i + 17:i + 17 + nv])
                (huff_dc if tc == 0 else huff_ac)[th] = \
                    _build_decode_table(bits, vals)
                i += 17 + nv
        elif marker in (0xC0, 0xC1, 0xC2):  # SOF0/1 baseline, SOF2 prog
            prec, h, w, nc = struct.unpack(">BHHB", seg[:6])
            if prec != 8:
                raise NotImplementedError("12-bit JPEG not supported")
            comps = []
            for ci in range(nc):
                cid, hv, tq = seg[6 + 3 * ci:9 + 3 * ci]
                comps.append(dict(id=cid, hs=hv >> 4, vs=hv & 0x0F,
                                  tq=tq))
            frame = dict(w=w, h=h, comps=comps,
                         progressive=marker == 0xC2)
            _alloc_frame(frame)
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                f"unsupported JPEG process (SOF{marker - 0xC0})")
        elif marker == 0xDD:  # DRI
            (restart_interval,) = struct.unpack(">H", seg[:2])
        elif marker == 0xDA:  # SOS — entropy data follows
            if frame is None:
                raise ValueError("SOS before SOF")
            ns = seg[0]
            scomps = []
            for si in range(ns):
                cs, tdta = seg[1 + 2 * si:3 + 2 * si]
                scomps.append((cs, tdta >> 4, tdta & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ahl = seg[3 + 2 * ns]
            pos = _decode_scan(b, pos, frame, scomps, ss, se,
                               ahl >> 4, ahl & 0x0F, huff_dc, huff_ac,
                               restart_interval)
            scanned = True
        # APPn / COM / others: skipped
    if frame is None or not scanned:
        raise ValueError("JPEG has no SOS scan")
    return _finish_frame(frame, qt)


def _alloc_frame(frame):
    """MCU geometry + raw-coefficient storage (dequantized at IDCT
    time — progressive refinement operates on quantized ints)."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax = max(c["hs"] for c in comps)
    vmax = max(c["vs"] for c in comps)
    frame["hmax"], frame["vmax"] = hmax, vmax
    frame["mcux"] = mcux = (w + 8 * hmax - 1) // (8 * hmax)
    frame["mcuy"] = mcuy = (h + 8 * vmax - 1) // (8 * vmax)
    for c in comps:
        c["bw"] = mcux * c["hs"]  # blocks per row (interleaved grid)
        c["bh"] = mcuy * c["vs"]
        # non-interleaved scans cover only the component's own grid
        cw = (w * c["hs"] + hmax - 1) // hmax
        ch = (h * c["vs"] + vmax - 1) // vmax
        c["nbx"] = (cw + 7) // 8
        c["nby"] = (ch + 7) // 8
        c["coef"] = np.zeros((c["bh"] * c["bw"], 64), dtype=np.int32)
        c["pred"] = 0


def _decode_scan(b, pos, frame, scomps, ss, se, ah, al, huff_dc,
                 huff_ac, restart_interval):
    """Decode one scan's entropy data; returns the position of the
    next marker after it."""
    bycid = {c["id"]: c for c in frame["comps"]}
    sc = []
    for cid, td, ta in scomps:
        c = bycid[cid]
        c["dc_tbl"], c["ac_tbl"] = td, ta
        c["pred"] = 0
        sc.append(c)
    reader = _BitReader(b, pos)
    if not frame["progressive"]:
        _sequential_scan(reader, frame, sc, huff_dc, huff_ac,
                         restart_interval)
    elif ss == 0:
        if se != 0:
            raise ValueError("progressive DC scan must have Se=0")
        _dc_scan(reader, frame, sc, huff_dc, ah, al, restart_interval)
    else:
        if len(sc) != 1:
            raise ValueError("progressive AC scan must be "
                             "non-interleaved")
        _ac_scan(reader, sc[0], huff_ac, ss, se, ah, al,
                 restart_interval)
    # skip any pad bits / stuffed bytes up to the next true marker
    p = reader.pos
    d = b
    while p + 1 < len(d) and not (d[p] == 0xFF and d[p + 1] != 0x00):
        p += 1
    return p


def _sequential_scan(reader, frame, sc, huff_dc, huff_ac,
                     restart_interval):
    mcu_count = 0
    for my in range(frame["mcuy"]):
        for mx in range(frame["mcux"]):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                reader.align_and_consume_rst()
                for c in sc:
                    c["pred"] = 0
            try:
                for c in sc:
                    for by in range(c["vs"]):
                        for bx in range(c["hs"]):
                            _decode_block(reader, c,
                                          huff_dc[c["dc_tbl"]],
                                          huff_ac[c["ac_tbl"]],
                                          (my * c["vs"] + by) * c["bw"]
                                          + mx * c["hs"] + bx)
            except _RestartMarker:
                raise ValueError("unexpected restart marker")
            mcu_count += 1


def _dc_scan(reader, frame, sc, huff_dc, ah, al, restart_interval):
    """Progressive DC scan: first pass (Ah=0) Huffman-codes the
    point-transformed DC (arithmetic shift), refinements (Ah>0) send
    one raw bit per block."""
    def dc_block(c, bi):
        coef = c["coef"][bi]
        if ah == 0:
            t = _decode_huffman(reader, huff_dc[c["dc_tbl"]])
            diff = _extend(reader.read_bits(t), t)
            c["pred"] += diff
            coef[0] = c["pred"] << al
        elif reader.read_bit():
            coef[0] |= np.int32(1 << al)

    count = 0
    if len(sc) > 1:  # interleaved MCU order
        for my in range(frame["mcuy"]):
            for mx in range(frame["mcux"]):
                if restart_interval and count and \
                        count % restart_interval == 0:
                    reader.align_and_consume_rst()
                    for c in sc:
                        c["pred"] = 0
                for c in sc:
                    for by in range(c["vs"]):
                        for bx in range(c["hs"]):
                            dc_block(c, (my * c["vs"] + by) * c["bw"]
                                     + mx * c["hs"] + bx)
                count += 1
    else:  # non-interleaved: the component's own block raster
        c = sc[0]
        for r in range(c["nby"]):
            for col in range(c["nbx"]):
                if restart_interval and count and \
                        count % restart_interval == 0:
                    reader.align_and_consume_rst()
                    c["pred"] = 0
                dc_block(c, r * c["bw"] + col)
                count += 1


def _ac_scan(reader, c, huff_ac, ss, se, ah, al, restart_interval):
    """Progressive AC scan over one component's block raster:
    spectral-selection first pass or successive-approximation
    refinement, with shared end-of-band run (EOBRUN) state."""
    tbl = huff_ac[c["ac_tbl"]]
    state = {"eobrun": 0}
    count = 0
    for r in range(c["nby"]):
        for col in range(c["nbx"]):
            if restart_interval and count and \
                    count % restart_interval == 0:
                reader.align_and_consume_rst()
                state["eobrun"] = 0
            coef = c["coef"][r * c["bw"] + col]
            if ah == 0:
                _ac_first_block(reader, coef, tbl, ss, se, al, state)
            else:
                _ac_refine_block(reader, coef, tbl, ss, se, al, state)
            count += 1


def _ac_first_block(reader, coef, tbl, ss, se, al, state):
    if state["eobrun"] > 0:
        state["eobrun"] -= 1
        return
    k = ss
    while k <= se:
        rs = _decode_huffman(reader, tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL
                k += 16
                continue
            state["eobrun"] = (1 << r) - 1
            if r:
                state["eobrun"] += reader.read_bits(r)
            break
        k += r
        if k > se:
            raise ValueError("AC coefficient index out of range")
        coef[ZIGZAG[k]] = _extend(reader.read_bits(s), s) << al
        k += 1


def _ac_refine_block(reader, coef, tbl, ss, se, al, state):
    """T.81 G.2: newly-significant coefficients arrive as run+sign,
    already-significant ones consume one correction bit wherever the
    cursor passes them (including inside EOB runs)."""
    p1 = np.int32(1 << al)
    m1 = np.int32(-(1 << al))

    def correct(k):
        z = coef[ZIGZAG[k]]
        if z != 0:
            if reader.read_bit() and (z & p1) == 0:
                coef[ZIGZAG[k]] = z + (p1 if z >= 0 else m1)
            return True
        return False

    k = ss
    if state["eobrun"] == 0:
        while k <= se:
            rs = _decode_huffman(reader, tbl)
            r, s = rs >> 4, rs & 0x0F
            val = 0
            if s == 0:
                if r != 15:
                    state["eobrun"] = (1 << r)
                    if r:
                        state["eobrun"] += reader.read_bits(r)
                    break
                # r == 15: a run of 16 zero-history coefficients
            else:
                if s != 1:
                    raise ValueError("bad AC refinement magnitude")
                val = p1 if reader.read_bit() else m1
            while k <= se:
                if not correct(k):
                    if r == 0:
                        break
                    r -= 1
                k += 1
            if s:
                if k > se:
                    raise ValueError("AC refinement ran off band end")
                coef[ZIGZAG[k]] = val
            k += 1
    if state["eobrun"] > 0:
        while k <= se:
            correct(k)
            k += 1
        state["eobrun"] -= 1


def _finish_frame(frame, qt):
    """Dequantize + batched IDCT + upsample + color transform."""
    comps = frame["comps"]
    w, h = frame["w"], frame["h"]
    hmax, vmax = frame["hmax"], frame["vmax"]
    planes = []
    for c in comps:
        q = qt[c["tq"]]
        q_raster = np.empty(64)
        q_raster[ZIGZAG] = q  # zigzag table -> raster order
        blocks = (c["coef"].astype(np.float64) * q_raster) \
            .reshape(-1, 8, 8)
        # separable inverse DCT: X = C^T F C  (C = _DCT basis)
        px = np.einsum("ux,nuv,vy->nxy", _DCT, blocks, _DCT,
                       optimize=True) + 128.0
        plane = px.reshape(c["bh"], c["bw"], 8, 8).transpose(
            0, 2, 1, 3).reshape(c["bh"] * 8, c["bw"] * 8)
        # upsample to full resolution then crop
        plane = np.repeat(np.repeat(plane, vmax // c["vs"], axis=0),
                          hmax // c["hs"], axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        out = planes[0][:, :, None]
    else:
        y, cb, cr = planes[0], planes[1] - 128.0, planes[2] - 128.0
        r = y + 1.402 * cr
        g = y - 0.344136 * cb - 0.714136 * cr
        bl = y + 1.772 * cb
        out = np.stack([r, g, bl], axis=-1)
    return np.clip(np.round(out), 0, 255).astype(np.uint8)


def _decode_block(reader, comp, dc_tbl, ac_tbl, bi):
    coef = comp["coef"][bi]
    t = _decode_huffman(reader, dc_tbl)
    diff = _extend(reader.read_bits(t), t)
    comp["pred"] += diff
    coef[ZIGZAG[0]] = comp["pred"]
    k = 1
    while k < 64:
        rs = _decode_huffman(reader, ac_tbl)
        r, s = rs >> 4, rs & 0x0F
        if s == 0:
            if r == 15:  # ZRL: sixteen zeros
                k += 16
                continue
            break  # EOB
        k += r
        if k > 63:
            raise ValueError("AC coefficient index out of range")
        coef[ZIGZAG[k]] = _extend(reader.read_bits(s), s)
        k += 1


# --------------------------------------------------------------- encoder

class _BitWriter:
    def __init__(self):
        self.out = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, nbits: int):
        self.acc = (self.acc << nbits) | (value & ((1 << nbits) - 1))
        self.nbits += nbits
        while self.nbits >= 8:
            self.nbits -= 8
            byte = (self.acc >> self.nbits) & 0xFF
            self.out.append(byte)
            if byte == 0xFF:
                self.out.append(0x00)  # byte stuffing

    def flush(self):
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # 1-fill per T.81 F.1.2.3


def _build_encode_table(bits, huffval):
    table = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            table[huffval[k]] = (length, code)
            code += 1
            k += 1
        code <<= 1
    return table


def _magnitude(v: int):
    """(category, magnitude-bits) for a signed coefficient."""
    if v == 0:
        return 0, 0
    a = abs(v)
    t = a.bit_length()
    return t, (v if v > 0 else v + (1 << t) - 1)


def _encode_block(writer, block, pred, q, dc_tbl, ac_tbl):
    f = _DCT @ (block.astype(np.float64) - 128.0) @ _DCT.T
    zz = np.round(f.reshape(64)[ZIGZAG] / q).astype(np.int64)
    diff = int(zz[0]) - pred
    t, mag = _magnitude(diff)
    ln, code = dc_tbl[t]
    writer.write(code, ln)
    if t:
        writer.write(mag, t)
    run = 0
    last_nz = int(np.max(np.nonzero(zz)[0])) if np.any(zz) else 0
    for k in range(1, 64):
        v = int(zz[k])
        if v == 0:
            if k > last_nz:
                break
            run += 1
            if run == 16:
                ln, code = ac_tbl[0xF0]  # ZRL
                writer.write(code, ln)
                run = 0
            continue
        t, mag = _magnitude(v)
        ln, code = ac_tbl[(run << 4) | t]
        writer.write(code, ln)
        writer.write(mag, t)
        run = 0
    if last_nz < 63:
        ln, code = ac_tbl[0x00]  # EOB
        writer.write(code, ln)
    return int(zz[0])


def _prep_planes(pixels, quant, subsample):
    """Shared encoder front half: YCbCr conversion, optional 4:2:0
    chroma subsampling, quant-table normalization, MCU geometry."""
    px = np.asarray(pixels)
    if px.ndim == 2:
        px = px[:, :, None]
    h, w, nc = px.shape
    if nc not in (1, 3):
        raise ValueError("1 or 3 channels required")
    if subsample not in ("4:4:4", "4:2:0"):
        raise ValueError("subsample must be '4:4:4' or '4:2:0'")
    sub = 2 if (subsample == "4:2:0" and nc == 3) else 1
    q = np.full(64, float(quant)) if np.isscalar(quant) \
        else np.asarray(quant, dtype=np.float64)
    if nc == 3:
        r, g, bl = (px[:, :, i].astype(np.float64) for i in range(3))
        planes = [0.299 * r + 0.587 * g + 0.114 * bl,
                  -0.168736 * r - 0.331264 * g + 0.5 * bl + 128.0,
                  0.5 * r - 0.418688 * g - 0.081312 * bl + 128.0]
        planes = [np.clip(np.round(p), 0, 255) for p in planes]
        if sub == 2:
            # pad to even dims then average 2x2 for the chroma planes
            ph, pw = (h + 1) // 2 * 2, (w + 1) // 2 * 2
            for i in (1, 2):
                p = np.full((ph, pw), 128.0)
                p[:h, :w] = planes[i]
                if h < ph:
                    p[h:, :w] = planes[i][-1:, :]
                if w < pw:
                    p[:h, w:] = planes[i][:, -1:]
                planes[i] = np.round(
                    (p[0::2, 0::2] + p[0::2, 1::2] + p[1::2, 0::2]
                     + p[1::2, 1::2]) / 4.0)
    else:
        planes = [px[:, :, 0].astype(np.float64)]
    samp = [(sub, sub)] + [(1, 1)] * (nc - 1) if nc == 3 \
        else [(1, 1)]
    # MCU grid sized by the max sampling factor
    mcux = (w + 8 * sub - 1) // (8 * sub)
    mcuy = (h + 8 * sub - 1) // (8 * sub)
    return planes, samp, q, h, w, nc, sub, mcux, mcuy


def encode_jpeg(pixels: np.ndarray, quant: int | np.ndarray = 1,
                subsample: str = "4:4:4",
                restart_interval: int = 0) -> bytes:
    """Encode an (h, w) or (h, w, 3) uint8 array as a baseline JFIF
    JPEG (grayscale, or RGB via YCbCr at 4:4:4 or 4:2:0), standard
    Annex K Huffman tables. ``quant`` is a scalar or 64-entry zigzag
    quantization table; the default all-ones table makes the DCT
    round-trip exact to coefficient rounding — handy for deterministic
    fixtures. ``restart_interval`` > 0 emits a DRI marker and RSTn
    markers every that many MCUs (exercises the decoder's restart
    resynchronization path)."""
    planes, samp, q, h, w, nc, sub, mcux, mcuy = \
        _prep_planes(pixels, quant, subsample)
    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" \
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) \
        + bytes(np.clip(q, 1, 255).astype(np.uint8).tolist())
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hs, vs = samp[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])
    tables = [(_STD_DC_LUMA, 0x00), (_STD_AC_LUMA, 0x10)]
    if nc == 3:
        tables += [(_STD_DC_CHROMA, 0x01), (_STD_AC_CHROMA, 0x11)]
    for (bits, vals), tclass in tables:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) \
            + bytes([tclass]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * nc, nc)
    for ci in range(nc):
        out += bytes([ci + 1, 0x00 if ci == 0 else 0x11])
    out += bytes([0, 63, 0])
    dc_l = _build_encode_table(*_STD_DC_LUMA)
    ac_l = _build_encode_table(*_STD_AC_LUMA)
    dc_c = _build_encode_table(*_STD_DC_CHROMA)
    ac_c = _build_encode_table(*_STD_AC_CHROMA)
    writer = _BitWriter()
    preds = [0] * nc
    mcu_count = 0
    rst_n = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and \
                    mcu_count % restart_interval == 0:
                writer.flush()
                writer.out += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) % 8
                preds = [0] * nc
            mcu_count += 1
            for ci, plane in enumerate(planes):
                hs, vs = samp[ci]
                dc_t, ac_t = (dc_l, ac_l) if ci == 0 else (dc_c, ac_c)
                for by in range(vs):
                    for bx in range(hs):
                        blk = np.full((8, 8), 128.0)
                        ys = (my * vs + by) * 8
                        xs = (mx * hs + bx) * 8
                        part = plane[ys:ys + 8, xs:xs + 8]
                        blk[:part.shape[0], :part.shape[1]] = part
                        preds[ci] = _encode_block(
                            writer, blk, preds[ci], q, dc_t, ac_t)
    writer.flush()
    out += writer.out
    out += b"\xff\xd9"  # EOI
    return bytes(out)


# ----------------------------------------------------------------- EXIF

def exif_orientation(b: bytes):
    """Orientation (1-8) from a JPEG's EXIF APP1 segment, or None.

    Real TIFF-IFD parsing per the public EXIF spec: APP1 marker scan,
    'Exif\\0\\0' preamble, II/MM byte order, IFD0 walk for tag 0x0112.
    A training pipeline must apply this before resize/crop, or 6/8-
    rotated photos train sideways."""
    if b[:2] != b"\xff\xd8":
        return None
    pos, n = 2, len(b)
    while pos + 4 <= n:
        if b[pos] != 0xFF:
            return None
        marker = b[pos + 1]
        if marker in (0xDA, 0xD9):  # entropy data / EOI: no EXIF ahead
            return None
        (seg_len,) = struct.unpack(">H", b[pos + 2:pos + 4])
        seg = b[pos + 4:pos + 2 + seg_len]
        if marker == 0xE1 and seg[:6] == b"Exif\x00\x00":
            t = seg[6:]
            if len(t) < 8:
                return None
            endian = {b"II": "<", b"MM": ">"}.get(t[:2])
            if endian is None:
                return None
            (ifd_off,) = struct.unpack(endian + "I", t[4:8])
            if ifd_off + 2 > len(t):
                return None
            (count,) = struct.unpack(endian + "H",
                                     t[ifd_off:ifd_off + 2])
            for i in range(count):
                e = ifd_off + 2 + 12 * i
                if e + 12 > len(t):
                    return None
                tag, typ, _cnt = struct.unpack(endian + "HHI",
                                               t[e:e + 8])
                if tag == 0x0112 and typ == 3:  # SHORT
                    (val,) = struct.unpack(endian + "H",
                                           t[e + 8:e + 10])
                    return val if 1 <= val <= 8 else None
            return None
        pos += 2 + seg_len
    return None


def _exif_app1(orientation: int, endian: str = "<") -> bytes:
    """Minimal EXIF APP1 segment carrying just the orientation tag —
    fixture writer for the parser above."""
    tiff = (b"II" if endian == "<" else b"MM") \
        + struct.pack(endian + "HI", 42, 8) \
        + struct.pack(endian + "H", 1) \
        + struct.pack(endian + "HHIHH", 0x0112, 3, 1, orientation, 0) \
        + struct.pack(endian + "I", 0)
    body = b"Exif\x00\x00" + tiff
    return b"\xff\xe1" + struct.pack(">H", len(body) + 2) + body


# ------------------------------------------------- progressive encoder

#: complete flat AC Huffman table for progressive scans: 255 symbols at
#: 8 bits + one at 9 (the all-ones 9-bit code stays unassigned per the
#: Annex C convention). Progressive AC scans need EOBRUN symbols
#: (r<<4, r=1..14) that the Annex K tables don't define; a flat table
#: covers every possible symbol without per-scan optimization.
_FLAT_AC = ([0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0],
            list(range(255)) + [255])


def _component_coefs(plane, q, hs, vs, mcux, mcuy):
    """Quantized zigzag coefficients for every block of the padded
    interleaved grid (bh*bw, 64) int64."""
    bw, bh = mcux * hs, mcuy * vs
    out = np.zeros((bh * bw, 64), dtype=np.int64)
    ph, pw = plane.shape
    for r in range(bh):
        for col in range(bw):
            blk = np.full((8, 8), 128.0)
            ys, xs = r * 8, col * 8
            if ys < ph and xs < pw:
                part = plane[ys:ys + 8, xs:xs + 8]
                blk[:part.shape[0], :part.shape[1]] = part
            f = _DCT @ (blk - 128.0) @ _DCT.T
            out[r * bw + col] = np.round(f.reshape(64)[ZIGZAG] / q)
    return out


class _ProgWriter(_BitWriter):
    """Bit writer plus progressive AC scan state: a pending EOBRUN and
    the correction bits buffered behind it (T.81 G.1.2.3)."""

    def __init__(self, ac_tbl):
        super().__init__()
        self.ac_tbl = ac_tbl
        self.eobrun = 0
        self.pending = []  # correction bits buffered behind the EOBRUN

    def emit_symbol(self, sym):
        ln, code = self.ac_tbl[sym]
        self.write(code, ln)

    def emit_eobrun(self):
        if self.eobrun > 0:
            nbits = self.eobrun.bit_length() - 1
            self.emit_symbol(nbits << 4)
            if nbits:
                self.write(self.eobrun & ((1 << nbits) - 1), nbits)
            self.eobrun = 0
        for bit in self.pending:
            self.write(bit, 1)
        self.pending = []

    def restart(self, rst_n):
        self.emit_eobrun()
        self.flush()
        self.out += bytes([0xFF, 0xD0 + rst_n])


def _encode_dc_first(writer, coefs, order, dc_tbls, al, ri):
    preds = {}
    count = 0
    rst = 0
    for unit in order:  # unit = list of (ci, block) forming one MCU
        if ri and count and count % ri == 0:
            writer.flush()
            writer.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
            preds = {}
        for ci, bi in unit:
            v = int(coefs[ci][bi][0]) >> al  # arithmetic point transform
            diff = v - preds.get(ci, 0)
            preds[ci] = v
            t, mag = _magnitude(diff)
            ln, code = dc_tbls[ci][t]
            writer.write(code, ln)
            if t:
                writer.write(mag, t)
        count += 1


def _encode_dc_refine(writer, coefs, order, al, ri):
    count = 0
    rst = 0
    for unit in order:
        if ri and count and count % ri == 0:
            writer.flush()
            writer.out += bytes([0xFF, 0xD0 + rst])
            rst = (rst + 1) % 8
        for ci, bi in unit:
            writer.write((int(coefs[ci][bi][0]) >> al) & 1, 1)
        count += 1


def _encode_ac_first_block(writer, zz, ss, se, al):
    r = 0
    for k in range(ss, se + 1):
        v = int(zz[k])
        temp = (-v if v < 0 else v) >> al
        if temp == 0:
            r += 1
            continue
        writer.emit_eobrun()
        while r > 15:
            writer.emit_symbol(0xF0)  # ZRL
            r -= 16
        t = temp.bit_length()
        writer.emit_symbol((r << 4) | t)
        mag = temp if v > 0 else (1 << t) - 1 - temp
        writer.write(mag, t)
        r = 0
    if r > 0:
        writer.eobrun += 1
        if writer.eobrun == 0x7FFF:
            writer.emit_eobrun()


def _encode_ac_refine_block(writer, zz, ss, se, al):
    absv = [(-int(zz[k]) if zz[k] < 0 else int(zz[k])) >> al
            for k in range(64)]
    eob = ss - 1
    for k in range(ss, se + 1):
        if absv[k] == 1:
            eob = k  # last NEWLY-significant coefficient
    r = 0
    br = []  # correction bits since the last emitted symbol
    for k in range(ss, se + 1):
        temp = absv[k]
        if temp == 0:
            r += 1
            continue
        while r > 15 and k <= eob:
            writer.emit_eobrun()
            writer.emit_symbol(0xF0)  # ZRL
            r -= 16
            for bit in br:
                writer.write(bit, 1)
            br = []
        if temp > 1:
            # already significant: just one correction bit
            br.append(temp & 1)
            continue
        writer.emit_eobrun()
        writer.emit_symbol((r << 4) | 1)
        writer.write(1 if int(zz[k]) > 0 else 0, 1)
        for bit in br:
            writer.write(bit, 1)
        br = []
        r = 0
    if r > 0 or br:
        writer.eobrun += 1
        writer.pending.extend(br)
        if writer.eobrun == 0x7FFF or len(writer.pending) > 937:
            writer.emit_eobrun()


def encode_jpeg_progressive(pixels: np.ndarray,
                            quant: int | np.ndarray = 1,
                            subsample: str = "4:4:4",
                            restart_interval: int = 0,
                            dc_al: int = 1, ac_al: int = 1,
                            bands: tuple = ((1, 5), (6, 63))) -> bytes:
    """Encode an (h, w) or (h, w, 3) uint8 array as a progressive
    (SOF2) JFIF JPEG with the canonical scan script: an interleaved
    DC first scan at Al=dc_al, DC refinement bit scans down to Al=0,
    then per component and spectral band an AC first scan at Al=ac_al
    followed by AC refinements — exercising spectral selection,
    successive approximation, EOBRUN and correction-bit coding.
    ``restart_interval`` > 0 additionally emits DRI/RSTn in every
    scan. The quantized coefficients are identical to
    ``encode_jpeg``'s, so decode(progressive) == decode(baseline)
    pixel-for-pixel at the same quant table."""
    planes, samp, q, h, w, nc, sub, mcux, mcuy = \
        _prep_planes(pixels, quant, subsample)
    coefs = [_component_coefs(planes[ci], q, *samp[ci], mcux, mcuy)
             for ci in range(nc)]
    hmax = max(s[0] for s in samp)
    vmax = max(s[1] for s in samp)

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00" \
        + bytes([1, 1, 0]) + struct.pack(">HH", 1, 1) + bytes([0, 0])
    out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([0]) \
        + bytes(np.clip(q, 1, 255).astype(np.uint8).tolist())
    out += b"\xff\xc2" + struct.pack(">HBHHB", 8 + 3 * nc, 8, h, w, nc)
    for ci in range(nc):
        hs, vs = samp[ci]
        out += bytes([ci + 1, (hs << 4) | vs, 0])
    tables = [(_STD_DC_LUMA, 0x00), (_FLAT_AC, 0x10)]
    if nc == 3:
        tables += [(_STD_DC_CHROMA, 0x01), (_FLAT_AC, 0x11)]
    for (bits, vals), tclass in tables:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) \
            + bytes([tclass]) + bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)

    dc_tbls = [_build_encode_table(*(_STD_DC_LUMA if ci == 0
                                     else _STD_DC_CHROMA))
               for ci in range(nc)]
    flat = _build_encode_table(*_FLAT_AC)

    def sos(comp_specs, ss, se, ah, al):
        seg = bytearray(b"\xff\xda")
        seg += struct.pack(">HB", 6 + 2 * len(comp_specs),
                           len(comp_specs))
        for cid, td, ta in comp_specs:
            seg += bytes([cid, (td << 4) | ta])
        seg += bytes([ss, se, (ah << 4) | al])
        return bytes(seg)

    # MCU order for interleaved DC scans
    mcu_order = []
    for my in range(mcuy):
        for mx in range(mcux):
            unit = []
            for ci in range(nc):
                hs, vs = samp[ci]
                bw = mcux * hs
                for by in range(vs):
                    for bx in range(hs):
                        unit.append((ci, (my * vs + by) * bw
                                     + mx * hs + bx))
            mcu_order.append(unit)

    # scan 1: interleaved DC first at Al=dc_al
    out += sos([(ci + 1, 0 if ci == 0 else 1, 0) for ci in range(nc)],
               0, 0, 0, dc_al)
    wtr = _BitWriter()
    _encode_dc_first(wtr, coefs, mcu_order, dc_tbls, dc_al,
                     restart_interval)
    wtr.flush()
    out += wtr.out
    # DC refinement scans down to Al=0
    for a in range(dc_al, 0, -1):
        out += sos([(ci + 1, 0, 0) for ci in range(nc)], 0, 0, a, a - 1)
        wtr = _BitWriter()
        _encode_dc_refine(wtr, coefs, mcu_order, a - 1,
                          restart_interval)
        wtr.flush()
        out += wtr.out
    # AC scans: per component, per band — first then refinements
    for ci in range(nc):
        hs, vs = samp[ci]
        bw = mcux * hs
        cw = (w * hs + hmax - 1) // hmax
        ch = (h * vs + vmax - 1) // vmax
        nbx, nby = (cw + 7) // 8, (ch + 7) // 8
        block_ids = [r * bw + col for r in range(nby)
                     for col in range(nbx)]
        ta = 0 if ci == 0 else 1
        for ss, se in bands:
            for ah in [0] + list(range(ac_al, 0, -1)):
                al = ac_al if ah == 0 else ah - 1
                out += sos([(ci + 1, 0, ta)], ss, se, ah, al)
                wtr = _ProgWriter(flat)
                count = 0
                rst = 0
                for bi in block_ids:
                    if restart_interval and count and \
                            count % restart_interval == 0:
                        wtr.restart(rst)
                        rst = (rst + 1) % 8
                    if ah == 0:
                        _encode_ac_first_block(wtr, coefs[ci][bi],
                                               ss, se, al)
                    else:
                        _encode_ac_refine_block(wtr, coefs[ci][bi],
                                                ss, se, al)
                    count += 1
                wtr.emit_eobrun()
                wtr.flush()
                out += wtr.out
    out += b"\xff\xd9"
    return bytes(out)
