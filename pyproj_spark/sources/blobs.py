"""Multimodal fixture blobs: real container bytes synthesized per doc.

Each decode query synthesizes a PNG, JPEG, AVI, WAV, BMP or GIF per
document from its doc_id in one ``map_rows`` stage, then runs the gated
decoder over it. An encode that depends on doc_id only through a few
residues is memoized per Python worker; the gated decode still runs
once per row.

The fixture functions live here, not in the query modules that use
them, because a Python worker unpickles each one by reference: a worker
then imports this module and the kernels, not a query registry.
"""

from __future__ import annotations

import functools
import struct

import numpy as np

from pyproj_spark.kernels.jpeg import (_exif_app1, encode_jpeg,
                                       encode_jpeg_progressive)
from pyproj_spark.kernels.riff import (encode_avi_mjpg, encode_bmp,
                                       encode_gif, encode_wav)


def with_blobs(docs, blob):
    """``(url, payload)`` per row of the documents table, with url the
    doc id as a string and ``payload = blob(doc_id)``. A fixture that
    raises fails its task: no decode-or-skip here. Decoders that pay
    per row pass the memoized documents relation through
    ``spread_small_scan``, so its scan-partition probe runs once per
    session."""
    from pyspark.sql import functions as F

    from pyproj_spark.rows import map_rows
    url = F.col("doc_id").cast("string").alias("url")
    return map_rows(docs, [url, "doc_id"], "url string, payload binary",
                    lambda u, d: [(u, blob(d))])


def rgb(d: int, w: int, h: int):
    """The w x h RGB gradient every image fixture is drawn from."""
    x, y = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack([(x * 7 + d) % 256, (y * 13 + d * 3) % 256,
                     (x + y) % 256], -1).astype(np.uint8)


def png_blob(d: int) -> bytes:
    from pyproj_spark.operators.multimodal import encode_png
    return encode_png(rgb(d, d % 16 + 1, d % 12 + 1))


def _blocks8(vals):
    """Each value of a block grid blown up to a constant 8x8 block."""
    return np.repeat(np.repeat(vals, 8, 0), 8, 1).astype(np.uint8)


@functools.cache
def _baseline_jpeg(bw: int, bh: int, dmod: int) -> bytes:
    bx, by = np.meshgrid(np.arange(bw), np.arange(bh))
    return encode_jpeg(_blocks8((bx * 29 + by * 31 + dmod * 17) % 256))


def jpeg_blob(d: int) -> bytes:
    return _baseline_jpeg(d % 3 + 1, d % 2 + 1, d % 256)


@functools.cache
def _progressive_jpeg(bw: int, bh: int, dmod: int) -> bytes:
    bx, by = np.meshgrid(np.arange(bw), np.arange(bh))
    return encode_jpeg_progressive(
        _blocks8((bx * 37 + by * 41 + dmod * 13) % 256),
        restart_interval=2)


def progressive_blob(d: int) -> bytes:
    return _progressive_jpeg(d % 2 + 1, d % 3 + 1, d % 251)


@functools.cache
def _mjpg_frame(v: int) -> bytes:
    return encode_jpeg(np.full((16, 16), v, dtype=np.uint8))


def avi_blob(d: int) -> bytes:
    return encode_avi_mjpg([_mjpg_frame((f * 53 + d * 17) % 256)
                            for f in range(d % 5 + 2)], fps=10.0)


def sawtooth_wav(d: int, n: int, step: int, mul: int, period: int
                 ) -> bytes:
    """n samples of ((i * step + d * mul) % period) - period // 2."""
    s = ((np.arange(n) * step + d * mul) % period) - period // 2
    return encode_wav(s, rate=8000, bits=16)


@functools.cache
def tone_wav(f: int) -> bytes:
    s = np.floor(20000.0 * np.sin(2.0 * np.pi * f * np.arange(256)
                                  / 8000.0))
    return encode_wav(s.astype(np.int64), rate=8000, bits=16)


def image_header_blob(d: int) -> bytes:
    if d % 4 == 0:
        # real JPEG header bytes: SOI + EXIF APP1 carrying orientation +
        # SOF0 with the dims (header-parse + exif-walk both gated;
        # alternating byte order)
        app1 = _exif_app1(d % 8 + 1, "<" if d % 8 < 4 else ">")
        sof = (b"\xff\xc0" + struct.pack(
            ">HBHHB", 11, 8, d % 768 + 1, d % 1024 + 1, 1)
            + bytes([1, 0x11, 0]))
        return b"\xff\xd8" + app1 + sof
    return (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
            + struct.pack(">II", d % 1024 + 1, d % 768 + 1)
            + b"\x08\x02\x00\x00\x00")


def resize_blob(d: int) -> bytes:
    """PNG, BMP or grayscale GIF (all channels = (x*7 + d) % 256) by
    d % 3, all drawn from the same gradient."""
    w, h = d % 16 + 1, d % 12 + 1
    if d % 3 == 0:
        return png_blob(d)
    if d % 3 == 1:
        return encode_bmp(rgb(d, w, h))
    return encode_gif(rgb(d, w, h)[:, :, 0])
