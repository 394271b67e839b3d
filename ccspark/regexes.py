"""Shared, dialect-neutral regex building blocks for the quality-filter kernel.

The reference pipeline's per-line keep/drop chain (see /root/reference
cc_corpus.py:237-294 and its twin WET_processor.py:41-101) is built from
Python ``re`` patterns (gensim's public preprocessing regexes, a tag/url/
mention stripper, and the ``emoji`` library).  Our rebuild evaluates the
same chain in three engines:

  * Spark/Catalyst  (Java java.util.regex)
  * the Arrow kernels (RE2, via pyarrow.compute)
  * the test oracle (Python re)

To make all three agree byte-for-byte we avoid every dialect-specific
construct: no ``\\s``/``\\S``/``\\w`` shorthands (their Unicode coverage
differs), no ``\\p{...}`` classes, no class intersection, no escapes of the
``\\x{...}``/``\\uXXXX`` form.  Every pattern is built from *literal
characters* and explicit ranges, which the three dialects parse
identically.

Pattern inventory (reference file:line cited per rule):

  RE_URL / RE_AT / RE_HASHTAG / RE_ANGLE  - utilities.py:265-270
  EMOJI_CLASS                              - utilities.py:222-223 (emoji lib,
                                             reimplemented as codepoint ranges)
  RE_GENSIM_TAGS                           - gensim strip_tags      <([^>]+)>
  RE_AL_NUM / RE_NUM_AL                    - gensim split_alphanum
  RE_MULTI_WS                              - gensim strip_multiple_whitespaces
  RE_NUMERIC                               - gensim strip_numeric   [0-9]+
  PUNCT_CLASS                              - gensim strip_punctuation
  ILLEGAL_CLASS                            - utilities.py:9
  CJK-alphabet classes                     - cc_corpus.py:276-284 via
                                             ccspark/unicode_ranges.py
"""

from __future__ import annotations

import string

from ccspark.unicode_ranges import (
    CJK_ALPHA_RANGES,
    HANGUL_ALPHA_RANGES,
    HIRAGANA_ALPHA_RANGES,
    KATAKANA_ALPHA_RANGES,
)

# --------------------------------------------------------------------------
# Whitespace.  Python re's ``\\s`` (str patterns) matches exactly this set;
# derived from Python's own table at import (deterministic; the reference ran
# the same interpreter semantics) so Java/RE2 see an identical explicit class.
# U+3000 IDEOGRAPHIC SPACE is the highest whitespace codepoint.
import re as _re

WS_CHARS = "".join(chr(c) for c in range(0x3001) if _re.match(r"\s", chr(c)))

# str.splitlines() boundaries; \\r\\n additionally counts as a single break.
_SPLITLINE_CHARS = "".join(
    chr(c) for c in range(0x3001)
    if len(("a" + chr(c) + "b").splitlines()) == 2
)


def _esc_in_class(ch: str) -> str:
    """Escape a literal character for use inside a [...] class in all of
    Python re / Java regex / RE2."""
    if ch in "\\]^-[&":
        return "\\" + ch
    return ch


def char_class(chars: str, negate: bool = False) -> str:
    body = "".join(_esc_in_class(c) for c in chars)
    return ("[^" if negate else "[") + body + "]"


def ranges_class(ranges, extra_chars: str = "") -> str:
    """Build [a-b c-d ...] from inclusive codepoint ranges + literal chars."""
    parts = []
    for a, b in ranges:
        if a == b:
            parts.append(_esc_in_class(chr(a)))
        else:
            parts.append(f"{_esc_in_class(chr(a))}-{_esc_in_class(chr(b))}")
    parts.extend(_esc_in_class(c) for c in extra_chars)
    return "[" + "".join(parts) + "]"


WS_CLASS = char_class(WS_CHARS)
NON_WS_CLASS = char_class(WS_CHARS, negate=True)

# Line splitting: one break = \r\n pair or any single boundary char.
RE_LINE_SPLIT = "\r\n|" + char_class(_SPLITLINE_CHARS)

# --- utilities.strip_tags (utilities.py:265-270): applied in this order ----
RE_URL = "http" + NON_WS_CLASS + "+"
RE_AT = "@" + NON_WS_CLASS + "+"
RE_HASHTAG = "#" + NON_WS_CLASS + "+"
RE_ANGLE = "<[^>]*>"

# --- gensim public preprocessing regexes ----------------------------------
RE_GENSIM_TAGS = "<([^>]+)>"          # sub ""
RE_AL_NUM = "([a-z]+)([0-9]+)"        # sub "\1 \2" (lowercase only, as gensim)
RE_NUM_AL = "([0-9]+)([a-z]+)"        # sub "\1 \2"
RE_MULTI_WS = WS_CLASS + "+"          # sub " "
RE_NUMERIC = "[0-9]+"                 # sub ""
PUNCT_CLASS = char_class(string.punctuation) + "+"   # sub " "

# --- boilerplate-character gate (utilities.py:9) --------------------------
ILLEGAL_CHARS = ("|", "©", "«", "®", "»", "˂",
                 "˃", "˄", "˅", "/", "\\", "{", "}")
ILLEGAL_CLASS = char_class("".join(ILLEGAL_CHARS))

# --- punctuation-count gate thresholds (cc_corpus.py:287-291) -------------
# keep the line only if count(char) < limit for every entry
PUNCT_BUDGET = (
    ("-", 4), ("(", 4), (")", 4), ("=", 2), ("_", 2),
    (".", 15), ("&", 4), ("[", 3), ("]", 3), ("*", 5),
)

# --- emoji removal (utilities.py:222-223) ---------------------------------
# The reference calls emoji.replace_emoji(text, '') (the `emoji` package).
# That package's data tables are not available here; we freeze an explicit
# codepoint-range approximation of its behavior covering the standard emoji
# blocks, VS-16, keycap combiner, and the textual symbols the package also
# strips (©, ®, ™...).  NOTE: consequently the ILLEGAL_CHAR entries © and ®
# can never fire - same as in the reference when running with the real
# emoji package.  ZWJ (U+200D) is intentionally NOT stripped in isolation
# (it is meaningful in Arabic/Indic text); the reference only strips it
# inside emoji sequences.
EMOJI_RANGES = (
    (0x00A9, 0x00A9), (0x00AE, 0x00AE), (0x203C, 0x203C), (0x2049, 0x2049),
    (0x2122, 0x2122), (0x2139, 0x2139), (0x2194, 0x2199), (0x21A9, 0x21AA),
    (0x20E3, 0x20E3), (0x231A, 0x231B), (0x2328, 0x2328), (0x23CF, 0x23CF),
    (0x23E9, 0x23F3), (0x23F8, 0x23FA), (0x24C2, 0x24C2), (0x25AA, 0x25AB),
    (0x25B6, 0x25B6), (0x25C0, 0x25C0), (0x25FB, 0x25FE), (0x2600, 0x27BF),
    (0x2934, 0x2935), (0x2B05, 0x2B07), (0x2B1B, 0x2B1C), (0x2B50, 0x2B50),
    (0x2B55, 0x2B55), (0x3030, 0x3030), (0x303D, 0x303D), (0x3297, 0x3297),
    (0x3299, 0x3299), (0xFE0F, 0xFE0F), (0x1F000, 0x1FAFF),
)
EMOJI_CLASS = ranges_class(EMOJI_RANGES)

# --- CJK-aware length gate (cc_corpus.py:276-284) -------------------------
# Reference semantics (alphabet_detector): a line is "X-alphabet" iff every
# str.isalpha() character's unicodedata name contains X; threshold 15 if the
# line is CJK OR Hangul OR Hiragana OR Katakana, else 50.  Note all([]) is
# True: a line with no alphabetic characters gets the short threshold.
#
# Engine-neutral formulation (no class intersection needed):
#     is_X(line) := not regexp_like(regexp_replace(line, X_CLASS, ''), ALPHA)
# i.e. delete all X characters, then check no alphabetic char remains.
CJK_CLASS = ranges_class(CJK_ALPHA_RANGES)
HANGUL_CLASS = ranges_class(HANGUL_ALPHA_RANGES)
HIRAGANA_CLASS = ranges_class(HIRAGANA_ALPHA_RANGES)
KATAKANA_CLASS = ranges_class(KATAKANA_ALPHA_RANGES)

# One character of ANY space-free script (Han/Hangul/Kana) - the unit the
# language-aware document gates count as a "word" for zh/ja/ko text (the
# standard convention in multilingual Gopher-style filters: ideographs
# don't use spaces, so token counts are meaningless for them).
CJKISH_CLASS = ranges_class(
    CJK_ALPHA_RANGES + HANGUL_ALPHA_RANGES
    + HIRAGANA_ALPHA_RANGES + KATAKANA_ALPHA_RANGES)

# "Alphabetic" test class.  Python str.isalpha() == Unicode category L*.
# Java \p{L} and RE2 \p{L} both mean category L*, and both accept the
# spelling below identically, so this one shorthand IS dialect-safe.
ALPHA_CLASS = r"\p{L}"

# --- PII scrub (north_rule F17 extension; not present in reference) -------
RE_PII_EMAIL = (
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
)
RE_PII_PHONE = (
    "\\+?[0-9][0-9()\\[\\] .-]{7,}[0-9]"
)
RE_PII_IP = (
    "([0-9]{1,3}\\.){3}[0-9]{1,3}"
)
RE_PII_SSN = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
# 16-digit card in 4-groups (space/dash/nothing); \b guards keep longer
# digit runs (ids, timestamps) untouched.  \b means the ASCII word
# boundary ([0-9A-Za-z_]), as in RE2 (the scrub's only engine) and
# re.ASCII (tests/oracle.py); Java's \b would differ next to non-ASCII
# letters and digits, so the chain has no Spark SQL rendering.
# Regex-only (no Luhn), the standard pipeline trade-off: a 16-digit
# 4-grouped false positive is rare and redaction is the safe direction.
RE_PII_CC = "\\b[0-9]{4}([ -]?[0-9]{4}){3}\\b"
