"""Pure numpy numeric kernels — no Spark imports here.

Every kernel is vectorized over flat float64 arrays, mirroring the
reference's columnar buffer model (``pyproj/utils.py:89-143``,
``pyproj/_transformer.pyx:807-827``) but with numpy instead of C. The
Spark layer wraps these in scalar Arrow UDFs; tests call them
directly.
"""

import functools
import struct
import zlib

#: what a byte-stream decoder's walk raises on a truncated or corrupt
#: stream: a short ``struct`` read, an index past the end, a table id
#: never defined, an absurd size, bad zlib data
_MALFORMED = (IndexError, KeyError, OverflowError, struct.error,
              zlib.error)


def decoder(decode):
    """Byte-stream decoder wrapper: the low-level errors a malformed
    stream raises mid-walk surface as ValueError, the decoders'
    documented malformed-input error (which decode-or-skip callers
    catch)."""
    @functools.wraps(decode)
    def wrapped(b, *args, **kw):
        try:
            return decode(b, *args, **kw)
        except _MALFORMED as e:
            raise ValueError(f"malformed input to {decode.__name__}: "
                             f"{e!r}") from e
    return wrapped
