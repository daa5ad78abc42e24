"""Multimodal column plumbing: opaque binary blobs + typed metadata.

Images/audio/video are carried as ``binary`` columns with typed
metadata; decode / feature-extract run as one Arrow-batched
``mapInArrow`` stage per operator (``rows.map_rows``) over the binary
column. Every decode is REAL, implemented from the public specs over
raw bytes with stdlib + numpy only: container headers (format + pixel
dimensions for PNG/GIF/BMP/JPEG), PNG pixels (zlib IDAT inflate +
scanline unfilter, ``decode_png``), baseline and progressive JPEG
(ITU-T T.81 Huffman + IDCT, ``kernels/jpeg.py``), PCM WAV audio and
AVI/MJPG video frames (``kernels/riff.py``). Compressed audio
(MP3/AAC) and inter-frame video codecs (H.264 ...) are out of scope.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from pyproj_spark.kernels import decoder
from pyproj_spark.rows import map_rows


def _decode_rows(df: DataFrame, bin_col: str, schema: str,
                 decode: Callable[[str, bytes], Iterable[tuple]]
                 ) -> DataFrame:
    """``map_rows`` over ``(url, bin_col)`` with the decoders' shared
    decode-or-skip policy: a NULL payload, or a blob whose decode raises
    ValueError/NotImplementedError, yields no rows. A blob's rows count
    only if its whole decode succeeds."""

    def rows(url, payload):
        if payload is None:
            return ()
        try:
            return list(decode(url, payload))
        except (ValueError, NotImplementedError):
            return ()

    return map_rows(df, ["url", bin_col], schema, rows)


def _parse_image_header(b: bytes):
    """(format, width, height) from raw container headers — REAL
    parsing, no image library needed: PNG IHDR, GIF logical screen, BMP
    info header, JPEG SOF scan."""
    import struct
    if b is None or len(b) < 10:
        return None, None, None
    if b[:8] == b"\x89PNG\r\n\x1a\n" and len(b) >= 24:
        w, h = struct.unpack(">II", b[16:24])
        return "png", w, h
    if b[:6] in (b"GIF87a", b"GIF89a"):
        w, h = struct.unpack("<HH", b[6:10])
        return "gif", w, h
    if b[:2] == b"BM" and len(b) >= 26:
        w, h = struct.unpack("<ii", b[18:26])
        return "bmp", w, abs(h)
    if b[:2] == b"\xff\xd8":
        # walk JPEG segments to the first SOFn (baseline/progressive)
        i = 2
        n = len(b)
        while i + 9 < n:
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                          0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF):
                h, w = struct.unpack(">HH", b[i + 5:i + 9])
                return "jpeg", w, h
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            seg_len = struct.unpack(">H", b[i + 2:i + 4])[0]
            i += 2 + seg_len
        return "jpeg", None, None
    return None, None, None


IMAGE_META_SCHEMA = ("url string, format string, width int, height int, "
                     "n_bytes long, orientation int")


def image_meta(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Image container metadata over a binary column: format + pixel
    dimensions parsed from the raw header bytes (PNG/GIF/BMP/JPEG). The
    per-row byte walk is genuinely irregular (JPEG segment scan), so it
    runs as Python inside the Arrow batch — a few bytes per row, not a
    pixel decode. Every row is kept: an unparsable or NULL payload gets
    NULL metadata."""
    from pyproj_spark.kernels.jpeg import exif_orientation

    def meta(url, b):
        fmt, w, h = _parse_image_header(b)
        orient = exif_orientation(b) if fmt == "jpeg" else None
        return [(url, fmt, w, h, len(b) if b is not None else 0, orient)]

    return map_rows(df, ["url", bin_col], IMAGE_META_SCHEMA, meta)


@decoder
def decode_png(b: bytes):
    """REAL PNG pixel decode from raw bytes — stdlib zlib only (IDAT
    inflate + per-scanline unfilter), no image library. Supports 8-bit
    greyscale / RGB / RGBA, non-interlaced (the shapes a training
    pipeline synthesizes or pre-normalizes to). Returns an (h, w, c)
    uint8 numpy array. Raises ValueError on malformed input,
    NotImplementedError on unsupported PNG variants."""
    import struct
    import zlib

    import numpy as np
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        raise ValueError("not a PNG")
    pos, n = 8, len(b)
    w = h = None
    idat = []
    while pos + 8 <= n:
        (clen,) = struct.unpack(">I", b[pos:pos + 4])
        ctype = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + clen]
        pos += 12 + clen  # len + type + data + crc
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", data)
            if depth != 8 or interlace != 0 or color not in (0, 2, 6):
                raise NotImplementedError(
                    f"PNG depth={depth} color={color} "
                    f"interlace={interlace} not supported")
            channels = {0: 1, 2: 3, 6: 4}[color]
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = w * channels
    if len(raw) != h * (stride + 1):
        raise ValueError("PNG data length mismatch")
    raw = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride + 1)
    filters = raw[:, 0]
    rows = raw[:, 1:].astype(np.int32)
    out = np.zeros((h, stride), dtype=np.int32)
    bpp = channels
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        f = int(filters[y])
        r = rows[y]
        if f == 0:  # None
            cur = r.copy()
        elif f == 2:  # Up
            cur = (r + prev) & 0xFF
        elif f == 1:  # Sub: within-row cumsum per byte lane
            cur = r.copy()
            for x in range(bpp, stride):
                cur[x] = (cur[x] + cur[x - bpp]) & 0xFF
        elif f == 3:  # Average
            cur = r.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                cur[x] = (cur[x] + ((a + prev[x]) >> 1)) & 0xFF
        elif f == 4:  # Paeth
            cur = r.copy()
            for x in range(stride):
                a = cur[x - bpp] if x >= bpp else 0
                c = prev[x - bpp] if x >= bpp else 0
                p = a + prev[x] - c
                pa, pb, pc = abs(p - a), abs(p - prev[x]), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (
                    prev[x] if pb <= pc else c)
                cur[x] = (cur[x] + pred) & 0xFF
        else:
            raise ValueError(f"bad PNG filter {f}")
        out[y] = cur
        prev = cur
    return out.astype(np.uint8).reshape(h, w, channels)


PNG_STATS_SCHEMA = ("url string, width int, height int, n_channels int, "
                    "mean_luma double")


def _pixel_stats(decode):
    def stats(url, b):
        px = decode(b)
        yield url, px.shape[1], px.shape[0], px.shape[2], float(px.mean())
    return stats


def png_stats(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Real pixel-level image features over a binary column: decode each
    PNG (decode_png above) inside Arrow batches and emit dimensions +
    mean pixel value across all channels. Rows that fail to decode are
    dropped."""
    return _decode_rows(df, bin_col, PNG_STATS_SCHEMA,
                        _pixel_stats(decode_png))


def jpeg_stats(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Real baseline-JPEG pixel features over a binary column: Huffman
    entropy decode + dequantize + IDCT (kernels/jpeg.py decode_jpeg)
    inside Arrow batches, emitting dimensions + mean pixel value. Rows
    that fail to decode (or non-baseline variants) are dropped."""
    from pyproj_spark.kernels.jpeg import decode_jpeg
    return _decode_rows(df, bin_col, PNG_STATS_SCHEMA,
                        _pixel_stats(decode_jpeg))


WAV_SCHEMA = ("url string, sample_rate int, n_samples long, "
              "n_channels int, duration_s double, rms double, "
              "peak int")


def wav_features(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Real PCM-audio feature extraction over a binary column: RIFF
    parse + sample decode (kernels/riff.py decode_wav) inside Arrow
    batches, emitting rate/length/RMS/peak. Rows that fail to decode
    (or compressed formats) are dropped."""
    import numpy as np

    from pyproj_spark.kernels.riff import decode_wav

    def feat(url, b):
        s, rate = decode_wav(b)
        x = s.astype(np.float64)
        yield (url, rate, s.shape[0], s.shape[1], s.shape[0] / rate,
               float(np.sqrt((x * x).mean())),
               int(np.abs(s).max(initial=0)))

    return _decode_rows(df, bin_col, WAV_SCHEMA, feat)


FRAME_SCHEMA = ("url string, frame_idx int, width int, height int, "
                "n_channels int, mean_luma double")


def video_frame_sample(df: DataFrame, bin_col: str = "payload",
                       every_k: int = 2) -> DataFrame:
    """Real video frame sampling over a binary column: parse the AVI
    container (kernels/riff.py avi_frames), keep every ``every_k``-th
    frame, and decode each kept MJPG frame with the baseline-JPEG
    decoder — one output row per sampled frame. A video whose container
    or any sampled frame fails to decode is dropped."""
    from pyproj_spark.kernels.jpeg import decode_jpeg
    from pyproj_spark.kernels.riff import avi_frames

    def sample(url, b):
        frames, _fps = avi_frames(b)
        for idx in range(0, len(frames), every_k):
            px = decode_jpeg(frames[idx])
            yield (url, idx, px.shape[1], px.shape[0], px.shape[2],
                   float(px.mean()))

    return _decode_rows(df, bin_col, FRAME_SCHEMA, sample)


def resize_nearest(px, out_h: int, out_w: int):
    """Nearest-neighbor resize of an (h, w, c) array: source index =
    floor(i * src / dst) — the convention the SQL oracle mirrors."""
    import numpy as np
    h, w = px.shape[:2]
    ys = (np.arange(out_h) * h) // out_h
    xs = (np.arange(out_w) * w) // out_w
    return px[ys][:, xs]


def resize_bilinear(px, out_h: int, out_w: int):
    """Bilinear resize of an (h, w, c) array (align-corners=False,
    half-pixel centers — the torchvision/cv2 default convention)."""
    import numpy as np
    h, w = px.shape[:2]
    fy = np.clip((np.arange(out_h) + 0.5) * h / out_h - 0.5, 0, h - 1)
    fx = np.clip((np.arange(out_w) + 0.5) * w / out_w - 0.5, 0, w - 1)
    y0 = np.floor(fy).astype(int)
    x0 = np.floor(fx).astype(int)
    y1 = np.minimum(y0 + 1, h - 1)
    x1 = np.minimum(x0 + 1, w - 1)
    wy = (fy - y0)[:, None, None]
    wx = (fx - x0)[None, :, None]
    p = px.astype(np.float64)
    top = p[y0][:, x0] * (1 - wx) + p[y0][:, x1] * wx
    bot = p[y1][:, x0] * (1 - wx) + p[y1][:, x1] * wx
    return top * (1 - wy) + bot * wy


def decode_image(raw: bytes):
    """Universal still-image decode dispatched on magic bytes: PNG
    (zlib inflate + unfilter), baseline JPEG (Huffman + IDCT), BMP
    (uncompressed 24/32-bit), GIF (real LZW) — every container
    image_meta header-parses now also pixel-decodes. Raises
    ValueError/NotImplementedError like the per-format decoders."""
    if raw[:8] == b"\x89PNG\r\n\x1a\n":
        return decode_png(raw)
    if raw[:2] == b"\xff\xd8":
        from pyproj_spark.kernels.jpeg import decode_jpeg
        return decode_jpeg(raw)
    if raw[:2] == b"BM":
        from pyproj_spark.kernels.riff import decode_bmp
        return decode_bmp(raw)
    if raw[:6] in (b"GIF87a", b"GIF89a"):
        from pyproj_spark.kernels.riff import decode_gif
        return decode_gif(raw)
    raise ValueError("unrecognized image container")


def image_resize(df: DataFrame, bin_col: str = "payload",
                 out_h: int = 8, out_w: int = 8,
                 method: str = "nearest") -> DataFrame:
    """Decode (PNG/JPEG/BMP/GIF, dispatched on magic bytes) + resize,
    emitting resized dimensions and the resized image's mean pixel
    value — the normalize-to-fixed-shape step of a training pipeline,
    minus the tensor sink."""
    import numpy as np

    resizer = {"nearest": resize_nearest,
               "bilinear": resize_bilinear}[method]

    def resize(url, b):
        px = decode_image(b)
        small = resizer(px, out_h, out_w)
        yield (url, out_w, out_h, px.shape[2],
               float(np.asarray(small, dtype=np.float64).mean()))

    return _decode_rows(df, bin_col, PNG_STATS_SCHEMA, resize)


def audio_tone_detect(df: DataFrame, bin_col: str = "payload",
                      freqs: tuple = (500, 1000, 2000, 3000)
                      ) -> DataFrame:
    """Spectral tone detection over REAL WAV bytes: decode the RIFF
    container, then measure single-frequency DFT energies
    E_f = (Σ sₙ·cos(2πfn/rate))² + (Σ sₙ·sin(2πfn/rate))² at each
    candidate frequency and report the argmax (ties to the lowest
    frequency) with its energy share. Vectorized numpy inside the
    Arrow batch — the audio analogue of the gated image decodes, one
    step past RMS into actual signal analysis."""
    import numpy as np

    from pyproj_spark.kernels.riff import decode_wav

    def detect(url, b):
        s, rate = decode_wav(b)
        x = s.astype(np.float64)[:, 0]
        n = np.arange(x.shape[0])
        es = []
        for f in freqs:
            w = 2.0 * np.pi * f * n / rate
            es.append(float(np.dot(x, np.cos(w)) ** 2
                            + np.dot(x, np.sin(w)) ** 2))
        best = int(np.argmax(es))  # first max = lowest freq
        total = sum(es)
        yield (url, int(freqs[best]),
               round(es[best] / total, 6) if total > 0 else 0.0)

    return _decode_rows(df, bin_col,
                        "url string, detected_hz int, energy_share double",
                        detect)


def encode_png(arr) -> bytes:
    """Minimal deterministic PNG encoder — the inverse of decode_png:
    8-bit greyscale/RGB/RGBA, filter 0 scanlines, one IDAT, fixed zlib
    level (so identical pixels -> identical bytes). Together with
    decode_png this closes the raster loop: the engine can MATERIALIZE
    tiles as real .png bytes (operators/tiling.py::png_tiles), not
    just pixel tables."""
    import struct
    import zlib

    import numpy as np
    arr = np.ascontiguousarray(arr, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color = {1: 0, 3: 2, 4: 6}[c]

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + typ + data
                + struct.pack(">I", zlib.crc32(typ + data) & 0xffffffff))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 0)
    raw = b"".join(b"\x00" + arr[r].tobytes() for r in range(h))
    return (b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw, 6))
            + chunk(b"IEND", b""))


def image_dhash(df: DataFrame, bin_col: str = "payload") -> DataFrame:
    """Perceptual difference hash (dHash) for near-duplicate IMAGE
    dedup: decode (real container decode via decode_image), integer
    BT.601 luma ((299R+587G+114B)//1000 — exact, no float), nearest
    downsample to 9x8 (src = i*src_dim // dst_dim, the image_resize
    convention), then 64 horizontal-gradient bits row-major as a
    '0'/'1' string. Resilient to re-encode/resize/brightness-scale —
    the image twin of simhash for text. One mapInArrow stage;
    undecodable blobs are skipped like image_resize."""
    import numpy as np

    def dhash(url, b):
        px = decode_image(b).astype(np.int64)
        h, w = px.shape[:2]
        if px.shape[2] == 1:
            luma = px[:, :, 0]
        else:
            luma = (299 * px[:, :, 0] + 587 * px[:, :, 1]
                    + 114 * px[:, :, 2]) // 1000
        xs = (np.arange(9) * w) // 9
        ys = (np.arange(8) * h) // 8
        g = luma[np.ix_(ys, xs)]
        bits = (g[:, 1:] > g[:, :-1]).astype(np.uint8)
        yield url, "".join("1" if v else "0" for v in bits.ravel())

    return _decode_rows(df, bin_col, "url string, dhash string", dhash)


def audio_fingerprint(df: DataFrame, bin_col: str = "payload",
                      frame: int = 16) -> DataFrame:
    """Acoustic fingerprint for near-duplicate AUDIO dedup (the
    energy-difference family behind Shazam-style matchers, reduced to
    its deterministic core): real RIFF/PCM decode, fixed-size frames
    (partial tail dropped), per-frame energy as an EXACT integer
    sum of squared samples, one bit per consecutive-frame energy
    rise. Gain-scaling leaves every comparison's sign unchanged, so
    the fingerprint is volume-invariant — the audio twin of
    image_dhash. One mapInArrow stage; undecodable blobs and clips
    shorter than two frames are skipped."""
    import numpy as np

    from pyproj_spark.kernels.riff import decode_wav

    def fingerprint(url, b):
        samples, _rate = decode_wav(b)
        s = np.asarray(samples, dtype=np.int64)
        if s.ndim > 1:
            s = s[:, 0]
        nf = len(s) // frame
        if nf >= 2:
            e = (s[:nf * frame].reshape(nf, frame) ** 2).sum(axis=1)
            yield url, nf, "".join("1" if e[k + 1] > e[k] else "0"
                                   for k in range(nf - 1))

    return _decode_rows(df, bin_col, "url string, n_frames int, fp string",
                        fingerprint)


def sniff_mime(payload):
    """Content-type from magic bytes — the WHATWG MIME-sniffing core a
    crawl pipeline runs on every fetched body before trusting the
    server's Content-Type header. PURE Catalyst (hex-prefix CASE over
    the first bytes; no Arrow crossing), because at 10^12 bodies this
    runs on every single row of the ingest path.

    Covers the container set the engine can decode (multimodal.py /
    kernels/riff.py / kernels/jpeg.py) plus the crawl staples: pdf,
    zip, gzip, and tag-sniffed HTML with the spec's leading-whitespace
    skip. Unknown bytes fall through to application/octet-stream,
    never an error — sniffing is a routing decision, not validation.
    """
    from pyspark.sql import Column  # noqa: F401 (signature clarity)

    hx = F.hex(F.substring(payload, 1, 16))

    def pre(h: str):
        return hx.startswith(h.upper())

    riff_kind = F.hex(F.substring(payload, 9, 4))
    # decode the prefix as text for tag sniffing; invalid UTF-8 becomes
    # replacement chars which simply never match the tags
    head = F.lower(F.regexp_replace(
        F.substring(payload.cast("string"), 1, 80),
        r"^[\t\n\x0b\f\r ]+", ""))
    return (
        F.when(pre("255044462D"), F.lit("application/pdf"))
        .when(pre("89504E470D0A1A0A"), F.lit("image/png"))
        .when(pre("FFD8FF"), F.lit("image/jpeg"))
        .when(pre("474946383761") | pre("474946383961"),
              F.lit("image/gif"))
        .when(pre("424D"), F.lit("image/bmp"))
        .when(pre("52494646") & (riff_kind == "57415645"),
              F.lit("audio/wav"))
        .when(pre("52494646") & (riff_kind == "41564920"),
              F.lit("video/avi"))
        .when(pre("52494646") & (riff_kind == "57454250"),
              F.lit("image/webp"))
        .when(pre("504B0304") | pre("504B0506"),
              F.lit("application/zip"))
        .when(pre("1F8B"), F.lit("application/gzip"))
        .when(head.startswith("<!doctype html") | head.startswith("<html")
              | head.startswith("<head") | head.startswith("<body"),
              F.lit("text/html"))
        .when(head.startswith("<?xml"), F.lit("text/xml"))
        .otherwise(F.lit("application/octet-stream")))
