"""Unicode text normalization — the cleaning stage between raw
extraction and tokenization: NFC composition (so 'e'+U+0301 and the
precomposed é hash/dedup identically) plus removal of C0 control
characters (except tab/newline), DEL, zero-width characters
(ZWSP/ZWNJ/ZWJ) and the BOM.

NFC has no Catalyst builtin, so this is a scalar Arrow UDF
(``rows.map_arrays``) over ``unicodedata`` — Arrow-batched, and a
genuinely independent implementation from the DuckDB oracle's
``nfc_normalize`` (ICU-side), which makes the cross-engine gate a real
conformance check rather than the same code run twice.
"""

from __future__ import annotations

import re
import unicodedata

from pyspark.sql import Column

from pyproj_spark.rows import map_arrays

#: stripped AFTER NFC: C0 controls minus \t\n, DEL, zero-widths, BOM
STRIP_RE = re.compile(
    "[\x00-\x08\x0b-\x1f\x7f\u200b-\u200d\ufeff]")


def normalize_py(s: str) -> str:
    """Reference scalar implementation (used by the UDF and tests)."""
    return STRIP_RE.sub("", unicodedata.normalize("NFC", s))


def normalize_text(col: Column) -> Column:
    return map_arrays(
        "string",
        lambda s: [None if v is None else normalize_py(v) for v in s], col)
