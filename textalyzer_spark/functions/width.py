"""Terminal display width (Unicode East Asian Width aware).

Parity target: the reference's ``UnicodeWidthStr::width`` usage at
/root/reference/textalyzer/src/line_length.rs:31 and
frequency.rs:55-66 — fixtures: "你好" → 4 columns, "🚀" → 2
(line_length.rs:154-166).

No JVM built-in computes display width, so this is a pandas UDF; the
per-character table lookup is pure C-level unicodedata, applied per
Arrow batch. Rules (wcwidth-compatible subset):
  * combining marks (unicodedata.combining != 0) → 0 columns
  * zero-width space/joiners, C0/C1 controls        → 0 columns
  * East Asian Width 'W' or 'F'                     → 2 columns
  * everything else                                 → 1 column
"""

from __future__ import annotations

import unicodedata
from functools import lru_cache

import pandas as pd
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import IntegerType

_ZERO_WIDTH = {"​", "‌", "‍", "﻿"}


@lru_cache(maxsize=65536)
def _char_width(ch: str) -> int:
    if ch in _ZERO_WIDTH or unicodedata.combining(ch):
        return 0
    o = ord(ch)
    if o < 32 or 0x7F <= o < 0xA0:
        return 0
    if unicodedata.east_asian_width(ch) in ("W", "F"):
        return 2
    return 1


def str_display_width(s: str) -> int:
    """Display width of one string. Printable ASCII is one column per
    character, so it skips the per-character lookup; C0 controls and
    DEL (not printable) still take it and count 0."""
    if s.isascii() and s.isprintable():
        return len(s)
    return sum(_char_width(ch) for ch in s)


@pandas_udf(IntegerType())
def display_width_udf(s: pd.Series) -> pd.Series:
    """Arrow-batched display-width of each string."""
    return s.fillna("").map(str_display_width).astype("int32")
