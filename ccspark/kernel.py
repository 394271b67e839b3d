"""The per-line keep/drop + clean kernel, rendered as Spark SQL.

This is the product's correctness contract: a faithful re-expression of the
reference chain (/root/reference cc_corpus.py:254-293, byte-equivalent twin
WET_processor.py:60-100) as a single pure-SQL expression tree - no Python in
the hot path, fully inside Catalyst whole-stage codegen on the Spark side.

Chain order (reference line numbers in parentheses):

  1. raw length gate        len(line) > 15                     (:256)
  2. strip urls/@/#/tags    4 regex deletions                  (utilities:265-270)
  3. strip emoji            codepoint-class deletion           (utilities:222)
  4. gensim strip_tags      <([^>]+)> -> ''                    (:264)
  5. gensim split_alphanum  [a-z]+[0-9]+ and reverse -> '\\1 \\2'
  6. gensim strip_multiple_whitespaces   ws-run -> ' '         (:266)
  7. post length gate       len > 15                           (:269)
  8. illegal-char gate      none of | © « ® » ˂ ˃ ˄ ˅ / \\ { }  (:269)
  9. alphabetic-mass gate   len(strip_numeric+punct) > 12      (:272-273)
 10. CJK-aware length gate  >= 15 if CJK/Hangul/Kana else 50   (:276-284)
 11. punctuation budget     per-char count limits              (:287-291)

A page-level geo/MNC gate (ccTLD in dimension, domain not in the
multinational filter - :246-248) runs before this chain; see ccspark.geo.
"""

from __future__ import annotations

from ccspark import regexes as R
from ccspark.sqlgen import lit, rrep


def cleaned_expr(raw: str) -> str:
    """The cleaned text of one raw line (steps 2-6)."""
    c = rrep(raw, R.RE_URL, "")
    c = rrep(c, R.RE_AT, "")
    c = rrep(c, R.RE_HASHTAG, "")
    c = rrep(c, R.RE_ANGLE, "")
    c = rrep(c, R.EMOJI_CLASS, "")
    c = rrep(c, R.RE_GENSIM_TAGS, "")
    c = rrep(c, R.RE_AL_NUM, "\\1 \\2")
    c = rrep(c, R.RE_NUM_AL, "\\1 \\2")
    c = rrep(c, R.RE_MULTI_WS, " ")
    return c


def short_alphabet_expr(c: str) -> str:
    """True when the 15-char (vs 50) minimum applies: every alphabetic char
    of the line is CJK, or all Hangul, or all Hiragana, or all Katakana
    (vacuously true when the line has no alphabetic chars at all)."""
    parts = []
    for cls in (R.CJK_CLASS, R.HANGUL_CLASS, R.HIRAGANA_CLASS, R.KATAKANA_CLASS):
        stripped = rrep(c, cls, "")
        parts.append(f"(NOT ({stripped} RLIKE {lit(R.ALPHA_CLASS)}))")
    return "(" + " OR ".join(parts) + ")"


def rule_exprs(raw: str, cleaned: str = "cleaned") -> dict[str, str]:
    """Per-rule boolean expressions.  *raw* / *cleaned* are SQL expressions
    (typically column names); all rules must hold for a line to be kept.
    A punctuation count is length minus length-after-removal."""
    char_only = rrep(rrep(cleaned, R.RE_NUMERIC, ""), R.PUNCT_CLASS, " ")
    budget = " AND ".join(
        f"((length({cleaned}) - length(replace({cleaned}, {lit(ch)}, '')))"
        f" < {k})" for ch, k in R.PUNCT_BUDGET
    )
    return {
        "k_rawlen": f"(length({raw}) > 15)",
        "k_postlen": f"(length({cleaned}) > 15)",
        "k_illegal": f"(NOT ({cleaned} RLIKE {lit(R.ILLEGAL_CLASS)}))",
        "k_alphamass": f"(length({char_only}) > 12)",
        "k_cjklen": (
            f"(length({cleaned}) >= (CASE WHEN {short_alphabet_expr(cleaned)} "
            f"THEN 15 ELSE 50 END))"
        ),
        "k_punct": f"({budget})",
    }


RULE_ORDER = ("k_rawlen", "k_postlen", "k_illegal",
              "k_alphamass", "k_cjklen", "k_punct")


def keep_expr(raw: str, cleaned: str = "cleaned") -> str:
    rules = rule_exprs(raw, cleaned)
    return "(" + " AND ".join(rules[k] for k in RULE_ORDER) + ")"
