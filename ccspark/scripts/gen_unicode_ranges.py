"""Generate Unicode codepoint ranges used by the CJK-aware length gate.

The reference pipeline (see /root/reference cc_corpus.py:276-284) asks, via
``alphabet_detector``, whether *every alphabetic character* of a line belongs
to one of four "alphabets", where membership is defined as the substring test
``ALPHABET in unicodedata.name(char)``:

    is_cjk      -> "CJK"       in name   (CJK UNIFIED/COMPATIBILITY IDEOGRAPH...)
    is_hangul   -> "HANGUL"    in name
    is_hiragana -> "HIRAGANA"  in name
    is_katakana -> "KATAKANA"  in name

This script scans all Unicode codepoints with Python's unicodedata (same
table the reference used at runtime) and emits contiguous ranges of
characters that are (a) alphabetic per str.isalpha() and (b) members of each
set.  The output is written to ``ccspark/unicode_ranges.py`` as frozen data,
so the Spark regex path, the Arrow/RE2 kernels and the Python kernels
all share one deterministic definition.

Run:  python -m ccspark.scripts.gen_unicode_ranges
"""

from __future__ import annotations

import sys
import unicodedata


SETS = ("CJK", "HANGUL", "HIRAGANA", "KATAKANA")
# BMP + SMP planes cover every named CJK/Hangul/Kana char as of Unicode 15.
MAX_CP = 0x323B0


def member(cp: int, token: str) -> bool:
    ch = chr(cp)
    if not ch.isalpha():
        return False
    try:
        return token in unicodedata.name(ch)
    except ValueError:
        return False


def ranges_for(token: str) -> list[tuple[int, int]]:
    out: list[tuple[int, int]] = []
    start = None
    prev = None
    for cp in range(MAX_CP):
        if member(cp, token):
            if start is None:
                start = cp
            prev = cp
        else:
            if start is not None:
                out.append((start, prev))
                start = None
    if start is not None:
        out.append((start, prev))
    return out


def main() -> None:
    lines = [
        '"""Frozen alphabetic codepoint ranges (generated file - do not edit).',
        "",
        "Generated by ccspark/scripts/gen_unicode_ranges.py from Python's",
        f"unicodedata (Unicode {unicodedata.unidata_version}).  Each entry is an",
        "inclusive (start, end) codepoint range of characters that are",
        "str.isalpha() AND whose unicodedata.name() contains the set token.",
        '"""',
        "",
    ]
    for token in SETS:
        rr = ranges_for(token)
        lines.append(f"{token}_ALPHA_RANGES = (")
        for a, b in rr:
            lines.append(f"    (0x{a:04X}, 0x{b:04X}),")
        lines.append(")")
        lines.append("")
    path = "ccspark/unicode_ranges.py"
    with open(path, "w") as fh:
        fh.write("\n".join(lines))
    sys.stderr.write(f"wrote {path}\n")


if __name__ == "__main__":
    main()
