"""Vectorized Python implementation of the keep/drop + clean kernel.

This is the production hot path: one Arrow-batched pandas UDF computes the
cleaned text, the keep verdict, and the first failing rule for a batch of
raw lines in a single pass (the pure-SQL rendering in ccspark.kernel would
have Catalyst re-evaluating the 9-regex clean chain once per keep-rule -
~14x the regex work - because predicate pushdown re-inlines the chain into
the filter; a UDF output column is a hard optimizer barrier, so the chain
runs exactly once per line).

Semantics are the reference chain, byte-for-byte (cc_corpus.py:254-293);
patterns come from ccspark.regexes - the same dialect-neutral strings the
Spark SQL and Arrow renderings use.  An independent transcription of the reference (gensim-style
``\\s`` shorthands + unicodedata alphabet detection) lives in
tests/oracle.py and cross-validates this module on boundary fixtures.
"""

from __future__ import annotations

import re

from ccspark import regexes as R

# Precompiled once per process (executors import this module once).
_RE_URL = re.compile(R.RE_URL)
_RE_AT = re.compile(R.RE_AT)
_RE_HASHTAG = re.compile(R.RE_HASHTAG)
_RE_ANGLE = re.compile(R.RE_ANGLE)
_RE_EMOJI = re.compile(R.EMOJI_CLASS)
_RE_GTAGS = re.compile(R.RE_GENSIM_TAGS)
_RE_AL_NUM = re.compile(R.RE_AL_NUM)
_RE_NUM_AL = re.compile(R.RE_NUM_AL)
_RE_WS = re.compile(R.RE_MULTI_WS)
_RE_DIGIT = re.compile("[0-9]")
_RE_ILLEGAL = re.compile(R.ILLEGAL_CLASS)
_RE_NUMERIC = re.compile(R.RE_NUMERIC)
_RE_PUNCT = re.compile(R.PUNCT_CLASS)
_STRIP_ALPHABETS = tuple(
    re.compile(cls)
    for cls in (R.CJK_CLASS, R.HANGUL_CLASS, R.HIRAGANA_CLASS, R.KATAKANA_CLASS)
)


def clean_line(line: str) -> str:
    """Steps 2-6: strip urls/@/#/tags, emoji, gensim tag/alnum/ws filters.

    Cheap substring guards skip regex passes whose trigger characters are
    absent (most lines carry no url/@/#/tag/emoji/digit); application
    ORDER is unchanged from the reference chain, and each guard is exact
    (a pattern can't match without its trigger char), so output is
    byte-identical - property-tested against tests/oracle.py."""
    if "http" in line:
        line = _RE_URL.sub("", line)
    if "@" in line:
        line = _RE_AT.sub("", line)
    if "#" in line:
        line = _RE_HASHTAG.sub("", line)
    if "<" in line:
        line = _RE_ANGLE.sub("", line)
    if not line.isascii():
        line = _RE_EMOJI.sub("", line)
    if "<" in line:
        line = _RE_GTAGS.sub("", line)
    if _RE_DIGIT.search(line):
        line = _RE_AL_NUM.sub("\\1 \\2", line)
        line = _RE_NUM_AL.sub("\\1 \\2", line)
    return _RE_WS.sub(" ", line)


def _has_alpha(s: str) -> bool:
    """Python-re has no \\p{L}; str.isalpha() is the same category-L* test
    Java regex and RE2 express with \\p{L}."""
    return any(ch.isalpha() for ch in s)


def short_threshold(cleaned: str) -> bool:
    """True -> 15-char minimum applies (CJK/Hangul/Kana line)."""
    for rx in _STRIP_ALPHABETS:
        if not _has_alpha(rx.sub("", cleaned)):
            return True
    return False


def verdict(raw: str):
    """(cleaned_text, keep, drop_reason) for one raw line - drop_reason is
    the first failing rule in reference evaluation order, else None."""
    if raw is None or len(raw) <= 15:
        return None, False, "rawlen"
    c = clean_line(raw)
    n = len(c)
    if n <= 15:
        return c, False, "postlen"
    if _RE_ILLEGAL.search(c):
        return c, False, "illegal"
    if len(_RE_PUNCT.sub(" ", _RE_NUMERIC.sub("", c))) <= 12:
        return c, False, "alphamass"
    if n < 50:
        # only 16..49-char lines need the alphabet scan: >=50 passes both
        # thresholds, and a line reaching here is always >= 16 so the
        # short (15) threshold always passes when it applies.
        if c.isascii():
            short = not _has_alpha(c)   # ascii letters are LATIN-named
        else:
            short = short_threshold(c)
        if not short:
            return c, False, "cjklen"
    for ch, k in R.PUNCT_BUDGET:
        if c.count(ch) >= k:
            return c, False, "punct"
    return c, True, None


def process_page(text: str):
    """Reference record-level UDTF semantics (cc_corpus.py:252-293): split
    a page into lines (str.splitlines - exact reference line boundaries),
    run the kernel, return kept lines with their 1-based kept-line
    ordinal."""
    out = []
    n = 0
    if text:
        for raw in text.splitlines():
            c, keep, _ = verdict(raw)
            if keep:
                n += 1
                out.append((n, c))
    return out


def make_clean_verdict_udf():
    """Production kernel UDF: raw_line -> struct<text string, keep boolean,
    drop_reason string>, one Arrow batch at a time.

    Implementation is selected by the CCSPARK_KERNEL env var (read on the
    DRIVER at plan-build time; the chosen function ships in the serialized
    UDF, so executors need no env):

      arrow (default) - ccspark.arrowkernel: whole-batch pyarrow.compute
              string kernels (RE2, C++), row-for-row identical to the
              loop below (fixture + hypothesis parity tests), measured
              2-3x the per-row throughput on crawl text.
      py    - the per-row loop in this module (the round-1/2 production
              path; keeps working where pyarrow regex kernels are
              unavailable, and is the parity anchor for the arrow path).
    """
    import os
    if os.environ.get("CCSPARK_KERNEL", "arrow") == "arrow":
        from ccspark import arrowkernel
        return arrowkernel.make_clean_verdict_udf()
    return make_clean_verdict_udf_py()


def make_clean_verdict_udf_py():
    """The per-row rendering (see make_clean_verdict_udf)."""
    import pandas  # noqa: F401 - resolved lazily so a bare import of this
    from pyspark.sql.functions import pandas_udf  # module needs no Spark

    def clean_verdict(raw: "pandas.Series") -> "pandas.DataFrame":
        out = [verdict(x) for x in raw]
        return pandas.DataFrame(out, columns=["text", "keep", "drop_reason"])

    clean_verdict.__annotations__ = {
        "raw": pandas.Series, "return": pandas.DataFrame}
    return pandas_udf(clean_verdict,
                      "text string, keep boolean, drop_reason string")
