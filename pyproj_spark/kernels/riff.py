"""RIFF-container codecs — WAV (PCM audio) and AVI (MJPG video) —
stdlib + numpy only.

Together with ``kernels/jpeg.py`` and the PNG decode in
``operators/multimodal.py`` this makes the full multimodal decode
surface real: audio sample extraction (PCM WAV), video frame sampling
(AVI with Motion-JPEG streams, each sampled frame decoded by the
baseline-JPEG decoder). Matching fixture ENCODERS synthesize
deterministic bitstreams for tests and oracle queries. Compressed
audio (MP3/AAC) and inter-frame video codecs (H.264 …) genuinely need
external libraries and are not decoded.
"""

from __future__ import annotations

import struct

import numpy as np

from pyproj_spark.kernels import decoder

# ------------------------------------------------------------------ WAV


@decoder
def decode_wav(b: bytes) -> tuple[np.ndarray, int]:
    """Decode a PCM WAV file to (samples, sample_rate); samples is an
    (n, channels) int32 array of the raw PCM values (8-bit unsigned
    re-centered to signed, 16/24/32-bit signed little-endian). Raises
    ValueError on malformed input, NotImplementedError for
    non-PCM (compressed) formats."""
    if b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError("not a WAV file")
    pos, n = 12, len(b)
    fmt = None
    data = None
    while pos + 8 <= n:
        cid = b[pos:pos + 4]
        (clen,) = struct.unpack("<I", b[pos + 4:pos + 8])
        body = b[pos + 8:pos + 8 + clen]
        pos += 8 + clen + (clen & 1)  # chunks are word-aligned
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
    if fmt is None or data is None:
        raise ValueError("WAV missing fmt/data chunk")
    audio_fmt, channels, rate, _byte_rate, _align, bits = fmt
    if audio_fmt != 1:
        raise NotImplementedError(
            f"compressed WAV format {audio_fmt} not supported (PCM only)")
    if bits == 8:
        samples = np.frombuffer(data, dtype=np.uint8).astype(
            np.int32) - 128
    elif bits == 16:
        samples = np.frombuffer(data, dtype="<i2").astype(np.int32)
    elif bits == 24:
        raw = np.frombuffer(data, dtype=np.uint8).reshape(-1, 3)
        samples = (raw[:, 0].astype(np.int32)
                   | (raw[:, 1].astype(np.int32) << 8)
                   | (raw[:, 2].astype(np.int32) << 16))
        samples = np.where(samples >= 1 << 23, samples - (1 << 24),
                           samples)
    elif bits == 32:
        samples = np.frombuffer(data, dtype="<i4").astype(np.int32)
    else:
        raise NotImplementedError(f"{bits}-bit WAV not supported")
    if channels > 1:
        samples = samples[:len(samples) // channels * channels]
    return samples.reshape(-1, channels), rate


def encode_wav(samples: np.ndarray, rate: int = 16000,
               bits: int = 16) -> bytes:
    """Encode an (n,) or (n, channels) integer array as PCM WAV —
    deterministic fixture encoder for the decode path."""
    s = np.asarray(samples)
    if s.ndim == 1:
        s = s[:, None]
    channels = s.shape[1]
    if bits == 16:
        payload = s.astype("<i2").tobytes()
    elif bits == 8:
        payload = (s + 128).astype(np.uint8).tobytes()
    elif bits == 24:
        u = (s.astype(np.int64) & 0xFFFFFF).astype(np.uint32)
        raw = np.zeros((u.size, 3), dtype=np.uint8)
        flat = u.reshape(-1)
        raw[:, 0] = flat & 0xFF
        raw[:, 1] = (flat >> 8) & 0xFF
        raw[:, 2] = (flat >> 16) & 0xFF
        payload = raw.tobytes()
    elif bits == 32:
        payload = s.astype("<i4").tobytes()
    else:
        raise ValueError("fixture encoder supports 8/16/24/32-bit PCM")
    align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * align,
                      align, bits)
    body = (b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload)
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ------------------------------------------------------------------ AVI


@decoder
def avi_frames(b: bytes) -> tuple[list[bytes], float]:
    """Parse an AVI container and return (frame_payloads, fps). Only
    the video stream's compressed chunks ('##dc') are returned, in
    order; decoding is the caller's job (MJPG frames feed
    kernels/jpeg.py decode_jpeg). Raises ValueError on malformed
    input."""
    if b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        raise ValueError("not an AVI file")
    fps = 0.0
    frames: list[bytes] = []

    def walk(pos: int, end: int):
        nonlocal fps
        while pos + 8 <= end:
            cid = b[pos:pos + 4]
            (clen,) = struct.unpack("<I", b[pos + 4:pos + 8])
            body_start = pos + 8
            if cid == b"LIST":
                walk(body_start + 4, body_start + clen)
            elif cid == b"avih" and clen >= 4:
                (usec_per_frame,) = struct.unpack(
                    "<I", b[body_start:body_start + 4])
                if usec_per_frame:
                    fps = 1e6 / usec_per_frame
            elif cid[2:4] == b"dc":
                frames.append(b[body_start:body_start + clen])
            pos = body_start + clen + (clen & 1)

    walk(12, len(b))
    return frames, fps


def encode_avi_mjpg(jpeg_frames: list[bytes], fps: float = 10.0
                    ) -> bytes:
    """Assemble pre-encoded JPEG frames into a minimal valid AVI
    (MJPG fourcc) — deterministic fixture encoder for avi_frames."""

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body \
            + (b"\x00" if len(body) & 1 else b"")

    def lst(four: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", four + body)

    avih = struct.pack("<14I", int(1e6 / fps), 0, 0, 0x10,
                       len(jpeg_frames), 0, 1, 0, 0, 0, 0, 0, 0, 0)
    strh = (b"vids" + b"MJPG" + struct.pack(
        "<IHHIIIIIIII", 0, 0, 0, 0, 1, int(fps), 0,
        len(jpeg_frames), 0, 0, 0) + struct.pack("<4H", 0, 0, 0, 0))
    strf = struct.pack("<IiiHH4sIiiII", 40, 0, 0, 1, 24, b"MJPG",
                       0, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih)
               + lst(b"strl", chunk(b"strh", strh)
                     + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(chunk(b"00dc", f)
                                 for f in jpeg_frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


# ------------------------------------------------------------------ BMP

@decoder
def decode_bmp(b: bytes) -> np.ndarray:
    """Decode an uncompressed 24/32-bit bottom-up BMP (BITMAPINFOHEADER)
    to an (h, w, 3) uint8 RGB array. Raises ValueError on malformed
    input, NotImplementedError for compressed/paletted variants."""
    if b[:2] != b"BM" or len(b) < 54:
        raise ValueError("not a BMP")
    (data_off,) = struct.unpack("<I", b[10:14])
    hdr_size, w, h = struct.unpack("<Iii", b[14:26])
    planes, bpp = struct.unpack("<HH", b[26:30])
    (compression,) = struct.unpack("<I", b[30:34])
    if compression != 0 or bpp not in (24, 32):
        raise NotImplementedError(
            f"BMP compression={compression} bpp={bpp} not supported")
    flip = h > 0  # positive height = bottom-up storage
    h = abs(h)
    nbytes = bpp // 8
    stride = (w * nbytes + 3) & ~3  # rows pad to 4 bytes
    need = data_off + stride * h
    if len(b) < need:
        raise ValueError("BMP pixel data truncated")
    raw = np.frombuffer(b, dtype=np.uint8,
                        count=stride * h, offset=data_off)
    rows = raw.reshape(h, stride)[:, :w * nbytes] \
        .reshape(h, w, nbytes)
    rgb = rows[:, :, 2::-1]  # BGR(A) -> RGB
    return (rgb[::-1] if flip else rgb).copy()


def encode_bmp(pixels: np.ndarray) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as an uncompressed 24-bit
    bottom-up BMP — fixture encoder for decode_bmp."""
    px = np.asarray(pixels, dtype=np.uint8)
    h, w = px.shape[:2]
    stride = (w * 3 + 3) & ~3
    rows = np.zeros((h, stride), dtype=np.uint8)
    rows[:, :w * 3] = px[::-1, :, ::-1].reshape(h, w * 3)  # RGB->BGR
    payload = rows.tobytes()
    info = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                       len(payload), 2835, 2835, 0, 0)
    off = 14 + 40
    hdr = b"BM" + struct.pack("<IHHI", off + len(payload), 0, 0, off)
    return hdr + info + payload


# ------------------------------------------------------------------ GIF

def _lzw_decode(min_code_size: int, data: bytes, max_pixels: int
                ) -> list:
    """GIF-variant LZW decode (variable code width, clear/EOI codes,
    MSB-in-LSB-first bit packing) — public GIF89a spec appendix. The
    minimum code size of 8-bit pixels is 2..8 (the code table starts
    at 2 ** min_code_size entries)."""
    if not 2 <= min_code_size <= 8:
        raise ValueError(f"bad GIF LZW minimum code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list = []
    table: list = [(i,) for i in range(clear)] + [(), ()]
    width = min_code_size + 1
    prev = None
    acc = 0
    nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                table = [(i,) for i in range(clear)] + [(), ()]
                width = min_code_size + 1
                prev = None
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + (entry[0],))
            elif code == len(table):
                entry = prev + (prev[0],)
                table.append(entry)
            else:
                raise ValueError("corrupt GIF LZW stream")
            out.extend(entry)
            if len(out) > max_pixels:
                raise ValueError("GIF LZW produced too many pixels")
            prev = entry
            if len(table) == (1 << width) and width < 12:
                width += 1
    return out


def _lzw_encode(min_code_size: int, values) -> bytes:
    """Real GIF LZW compressor (dictionary growth, width escalation,
    clear on 4096) — fixture encoder exercising the full decode path."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    acc = 0
    nbits = 0

    def emit(code: int, width: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    table = {(i,): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    run: tuple = ()
    for v in values:
        cand = run + (int(v),)
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        table[cand] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code >= 4096:
            emit(clear, width)
            table = {(i,): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        run = (int(v),)
    if run:
        emit(table[run], width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


@decoder
def decode_gif(b: bytes) -> np.ndarray:
    """Decode the FIRST frame of a GIF87a/89a to an (h, w, 3) uint8
    RGB array: logical-screen parse, global/local color table, real
    LZW decompression. Interlaced frames raise NotImplementedError."""
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        raise ValueError("not a GIF")
    sw, sh, flags = struct.unpack("<HHB", b[6:11])
    pos = 13
    gct = None
    if flags & 0x80:
        n = 2 << (flags & 0x07)
        gct = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    while pos < len(b):
        block = b[pos]
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension: label + sub-blocks
            pos += 2
            while b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"unexpected GIF block 0x{block:02x}")
        _l, _t, w, h, iflags = struct.unpack("<HHHHB", b[pos + 1:pos + 10])
        pos += 10
        table = gct
        if iflags & 0x80:
            n = 2 << (iflags & 0x07)
            table = np.frombuffer(b, np.uint8, 3 * n, pos).reshape(n, 3)
            pos += 3 * n
        if iflags & 0x40:
            raise NotImplementedError("interlaced GIF not supported")
        if table is None:
            raise ValueError("GIF frame has no color table")
        min_code = b[pos]
        pos += 1
        data = bytearray()
        while b[pos] != 0:
            ln = b[pos]
            data += b[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        idx = _lzw_decode(min_code, bytes(data), w * h)
        if len(idx) < w * h:
            raise ValueError("GIF frame pixel data truncated")
        arr = np.asarray(idx[:w * h], dtype=np.int64).reshape(h, w)
        return table[np.clip(arr, 0, len(table) - 1)]
    raise ValueError("GIF has no image frame")


def encode_gif(indices: np.ndarray, palette: np.ndarray | None = None
               ) -> bytes:
    """Encode an (h, w) uint8 index array as a single-frame GIF89a
    (grayscale identity palette by default) with REAL LZW compression
    — fixture encoder for decode_gif."""
    idx = np.asarray(indices, dtype=np.uint8)
    h, w = idx.shape
    if palette is None:
        palette = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, 1)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | 0x07, 0, 0)
    out += palette.astype(np.uint8).tobytes()
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0)
    out.append(8)  # LZW min code size
    lzw = _lzw_encode(8, idx.reshape(-1))
    for i in range(0, len(lzw), 254):
        chunk = lzw[i:i + 254]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)
