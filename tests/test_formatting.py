"""Byte-exact pins for the terminal renderers in formatting.py and the
display-width function they use (pure Python, no Spark).

``format_freq_map`` is compared with a frozen scalar renderer — the
per-row f32 loop of frequency.rs:46-91 as it stood before the bar math
was vectorized — and with hand-written expected strings, so the check
does not rest on the oracle alone.
"""

from __future__ import annotations

import math
import random

import numpy as np
import pytest

from textalyzer_spark.formatting import (
    BAR,
    MAX_LINE_LENGTH,
    format_freq_map,
    format_line_length_histogram,
)
from textalyzer_spark.functions.width import _char_width, str_display_width


def _width_per_char(s: str) -> int:
    return sum(_char_width(ch) for ch in s)


def _scalar_freq_map(rows: list[tuple[str, int]]) -> str:
    """Frozen oracle: one f32 bar and two width lookups per row."""
    if not rows:
        return ""
    max_word_w = max(_width_per_char(w) for w, _ in rows)
    highest = max(c for _, c in rows)
    max_num_w = len(str(highest))
    remaining = MAX_LINE_LENGTH - (max_word_w + 2 + max_num_w + 2)
    rem32 = np.float32(remaining)
    high32 = np.float32(highest)
    out = []
    for word, count in rows:
        x = float(rem32 / high32 * np.float32(count))
        bar_w = int(math.floor(x + 0.5)) if x >= 0 else -int(math.floor(-x + 0.5))
        pad_w = max_word_w - _width_per_char(word)
        out.append(f"{' ' * pad_w}{word}  {str(count).rjust(max_num_w)}  {BAR * bar_w}\n")
    return "".join(out)


def _sorted(rows):
    return sorted(rows, key=lambda t: (-t[1], t[0]))


CASES = {
    "ties": [("apple", 3), ("bob", 3), ("cat", 3), ("dog", 1)],
    "cjk_emoji": [("你好", 5), ("🚀", 4), ("rocket", 2)],
    "combining_mark": [("cafe\u0301", 7), ("cafe", 3)],
    "control_and_del": [("a\x07b", 6), ("x\x7f", 4), ("\x1b[0m", 2), ("plain", 1)],
    "above_2_24": [
        ("w", (1 << 24) + 1),
        ("x", (1 << 24) - 1),
        ("y", (1 << 25) + 3),
        ("z", 12_345_679),
        ("v", 1),
    ],
    "negative_remaining": [("x" * 80, 9), ("short", 4)],
    "single_row": [("only", 42)],
}


@pytest.mark.parametrize("name", sorted(CASES))
def test_freq_map_matches_scalar_oracle(name):
    rows = _sorted(CASES[name])
    assert format_freq_map(rows) == _scalar_freq_map(rows)


def test_freq_map_matches_scalar_oracle_random():
    rng = random.Random(20240)
    pieces = ["a", "Zq", "你好", "🚀", "e\u0301", "\x07", "\x7f", "x" * 40, "\u200b"]
    for _ in range(200):
        rows = [
            (
                "".join(rng.choice(pieces) for _ in range(rng.randint(1, 3))),
                rng.choice(
                    [1, 2, 3, rng.randint(1, 1000), rng.randint(1, 1 << 40),
                     (1 << 24) + rng.randint(0, 9)]
                ),
            )
            for _ in range(rng.randint(1, 30))
        ]
        rows = _sorted(rows)
        assert format_freq_map(rows) == _scalar_freq_map(rows)


def test_freq_map_hand_written():
    # widths 3/1/4 -> word column 4; highest 4 -> count column 1;
    # remaining 80-(4+2+1+2)=71; scale 17.75: bars 71, 35.5->36, 17.75->18
    rows = [("the", 4), ("a", 2), ("你好", 1)]
    assert format_freq_map(rows) == (
        " the  4  " + BAR * 71 + "\n"
        "   a  2  " + BAR * 36 + "\n"
        "你好  1  " + BAR * 18 + "\n"
    )


def test_freq_map_f32_rounding_hand_written():
    # remaining 80-(2+2+8+2)=66; f32(16777217) == 2^24, so the scale is
    # exactly 66/2^24 and 2160702 gets 8.5 -> 9 columns, where exact
    # f64 math gives 8.49999925... -> 8
    rows = [("ab", (1 << 24) + 1), ("cd", 2_160_702)]
    assert format_freq_map(rows) == (
        "ab  16777217  " + BAR * 66 + "\n"
        "cd   2160702  " + BAR * 9 + "\n"
    )


def test_freq_map_negative_remaining_draws_no_bar():
    word = "x" * 80
    assert format_freq_map([(word, 9), ("ab", 4)]) == (
        f"{word}  9  \n" + " " * 78 + "ab  4  \n"
    )


def test_freq_map_empty():
    assert format_freq_map([]) == ""


def test_display_width_ascii_fast_path():
    for cp in range(128):
        ch = chr(cp)
        assert str_display_width(ch) == _char_width(ch), cp
        for s in (f"ab{ch}cd", f"{ch}{ch}x", f"你{ch}🚀", f"e\u0301{ch}"):
            assert str_display_width(s) == _width_per_char(s), (cp, s)
    printable = "".join(chr(cp) for cp in range(0x20, 0x7F))
    assert str_display_width(printable) == len(printable) == 95
    assert str_display_width("\x00\x1f\x7f") == 0
    assert str_display_width("cafe\u0301") == 4


def test_line_length_histogram_hand_written():
    # sorted by length: (5,1) (7,8) (12,3); columns 2 and 1 wide;
    # bars 60*c/8: 7.5->8, 60, 22.5->23 (half away from zero)
    out = format_line_length_histogram([(12, 3), (5, 1), (7, 8)])
    assert out == (
        "Length  Count  Histogram\n"
        "--  -  ---------\n"
        " 5  1  " + BAR * 8 + "\n"
        " 7  8  " + BAR * 60 + "\n"
        "12  3  " + BAR * 23 + "\n"
    )


def test_line_length_histogram_empty():
    assert format_line_length_histogram([]) == "No lines found to analyze."
