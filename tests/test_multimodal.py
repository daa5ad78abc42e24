"""Decode-or-skip across the multimodal operators (operators/multimodal.py):
a NULL or undecodable payload never fails the task, and a malformed
stream reaches the operators as ValueError, never as a raw error."""

from __future__ import annotations

import numpy as np
import pytest

from pyproj_spark.kernels.jpeg import decode_jpeg, encode_jpeg
from pyproj_spark.kernels.riff import (avi_frames, decode_bmp, decode_gif,
                                       decode_wav, encode_avi_mjpg,
                                       encode_bmp, encode_gif, encode_wav)
from pyproj_spark.operators import multimodal as mm

_PNG = mm.encode_png(np.arange(48, dtype=np.uint8).reshape(4, 4, 3))
_JPEG = encode_jpeg(np.full((16, 16), 77, dtype=np.uint8))
_WAV = encode_wav(((np.arange(200) * 37) % 200) - 100, rate=8000, bits=16)

VALID = {
    "image_meta": _PNG, "png_stats": _PNG, "image_resize": _PNG,
    "image_dhash": _PNG, "jpeg_stats": _JPEG,
    "video_frame_sample": encode_avi_mjpg([_JPEG] * 3, fps=10.0),
    "wav_features": _WAV, "audio_tone_detect": _WAV,
    "audio_fingerprint": _WAV,
}
JUNK = b"junk bytes here"


@pytest.mark.parametrize("name", sorted(VALID))
def test_null_and_junk_payloads_are_skipped(spark, name):
    op = getattr(mm, name)
    df = spark.createDataFrame(
        [("null", None), ("junk", JUNK), ("ok", VALID[name])],
        "url string, payload binary")
    out = op(df)
    rows = out.collect()
    undecodable = op(df.filter("url != 'ok'").coalesce(1))
    bad = undecodable.collect()
    assert undecodable.schema == out.schema
    if name == "image_meta":
        # header parsing keeps every row: NULL metadata when unparsable
        meta = {r.url: (r.format, r.n_bytes) for r in rows}
        assert meta == {"null": (None, 0), "junk": (None, len(JUNK)),
                        "ok": ("png", len(_PNG))}
        assert sorted((r.url, r.format) for r in bad) == [
            ("junk", None), ("null", None)]
    else:
        assert rows and {r.url for r in rows} == {"ok"}
        assert bad == []


def _avi_decode(b: bytes):
    return [decode_jpeg(f) for f in avi_frames(b)[0]]


_GRADIENT = (np.arange(6 * 5 * 3) * 7 % 256).astype(np.uint8) \
    .reshape(6, 5, 3)
STREAMS = {
    "png": (_PNG, mm.decode_png),
    "wav": (_WAV, decode_wav),
    "bmp": (encode_bmp(_GRADIENT), decode_bmp),
    "gif": (encode_gif((np.arange(30) % 5).reshape(6, 5)), decode_gif),
    "jpeg": (_JPEG, decode_jpeg),
    "avi": (encode_avi_mjpg([_JPEG] * 2, fps=10.0), _avi_decode),
}


@pytest.mark.parametrize("fmt", sorted(STREAMS))
def test_truncated_or_corrupt_stream_raises_value_error(fmt):
    """Every truncation of a valid stream, and 300 one-byte
    corruptions of it, either decode or raise ValueError /
    NotImplementedError, the errors decode-or-skip catches: a raw
    struct/zlib/index error would fail the whole task."""
    blob, decode = STREAMS[fmt]
    decode(blob)
    rng = np.random.default_rng(7)
    flips = [blob[:p] + bytes([v]) + blob[p + 1:] for p, v in zip(
        rng.integers(0, len(blob), 300), rng.integers(0, 256, 300))]
    for bad in [blob[:n] for n in range(len(blob))] + flips:
        try:
            decode(bad)
        except (ValueError, NotImplementedError):
            pass
