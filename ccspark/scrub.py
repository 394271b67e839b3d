"""F17: regex PII/toxicity scrub (north_rule extension).

The reference's only scrub is url/@mention/#hashtag removal
(utilities.py:265-270 - our kernel step 2); north_rule asks for an
explicit PII/toxicity scrub.  Pure Catalyst ``regexp_replace`` chain +
an optional broadcast blocklist filter - deterministic, documented
patterns (ccspark/regexes.py), no Python in the path.

Order matters: emails before phones (an email's digits could otherwise
half-match the phone pattern), SSN before IP-ish digit runs, IP before
generic phone (dotted quads would otherwise match the phone class).
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame, functions as F

from ccspark import regexes as R

SCRUB_STEPS = (
    ("email", R.RE_PII_EMAIL, "<EMAIL>"),
    ("ssn", R.RE_PII_SSN, "<SSN>"),
    ("ip", R.RE_PII_IP, "<IP>"),
    # cards BEFORE the generic phone class: a 16-digit grouped card is
    # also a valid phone match, and <CC> is the more specific redaction
    ("cc", R.RE_PII_CC, "<CC>"),
    ("phone", R.RE_PII_PHONE, "<PHONE>"),
)


# Java's \b counts every Unicode letter or digit as a word character
# before JDK 19 (JDK-8264160); RE2 and Python's re.ASCII count only
# [0-9A-Za-z_].  The Java rendering of a step spells \b out as that ASCII
# boundary, so "é4111111111111111" redacts as <CC> on every engine.
_W = "[0-9A-Za-z_]"
_ASCII_BOUNDARY = f"(?:(?<!{_W})(?={_W})|(?<={_W})(?!{_W}))"


def java_pattern(pat: str) -> str:
    """*pat* for Java regex: each ``\\b`` (outside an escaped backslash)
    becomes the ASCII word boundary."""
    return re.sub(r"\\\\|\\b",
                  lambda m: _ASCII_BOUNDARY if m.group() == "\\b"
                  else m.group(), pat)


def scrub_col(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    for _, pat, repl in SCRUB_STEPS:
        c = F.regexp_replace(c, java_pattern(pat), repl)
    return c


def scrub(df: DataFrame, text_col: str = "text",
          out_col: str = "scrubbed_text") -> DataFrame:
    """Adds the scrubbed text plus per-row redaction flags/count."""
    out = df.withColumn(out_col, scrub_col(text_col))
    for name, pat, _ in SCRUB_STEPS:
        out = out.withColumn(
            f"has_{name}", F.col(text_col).rlike(java_pattern(pat)))
    flags = [F.col(f"has_{n}").cast("int") for n, _, _ in SCRUB_STEPS]
    total = flags[0]
    for f in flags[1:]:
        total = total + f
    return out.withColumn("n_pii_types", total)


def blocklist_filter(df: DataFrame, blocklist: DataFrame,
                     text_col: str = "text") -> DataFrame:
    """Drop rows containing any blocklisted term (toxicity gate):
    broadcast the (small) blocklist, one rlike over an alternation."""
    terms = [r[0] for r in blocklist.collect()]
    if not terms:
        return df
    # terms are data, not patterns: quote each with \Q...\E so regex
    # metacharacters ('.', '+', '(') can't change match semantics or
    # blow up pattern compilation; a literal \E inside a term is split
    # out of the quoted region and re-quoted.
    quoted = [r"\Q" + t.replace(r"\E", r"\E\\E\Q") + r"\E" for t in terms]
    pat = "(?i)(^|[^a-z])(" + "|".join(quoted) + ")([^a-z]|$)"
    return df.where(~F.col(text_col).rlike(pat))
