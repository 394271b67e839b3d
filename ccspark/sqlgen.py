"""Spark SQL text helpers for the expression builders.

Only two things here are not plain SQL:

  string literals  Spark SQL unescapes ``\\`` inside quotes, so a regex
                   pattern is written with its backslashes doubled and
                   its quotes escaped;
  regexp_replace   replace-all on Java regex; replacements are written
                   with ``\\1`` backrefs (the Python/RE2 spelling, which
                   the Arrow kernels use) and rendered as Java's ``$1``.
"""

from __future__ import annotations

import re


def lit(s: str) -> str:
    """Render a Python string as a quoted Spark SQL literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def rrep(e: str, pat: str, rep: str) -> str:
    """regexp_replace, replace-ALL semantics.  *rep* uses ``\\1`` backrefs."""
    rep_s = re.sub(r"\\(\d)", r"$\1", rep)
    return f"regexp_replace({e}, {lit(pat)}, {lit(rep_s)})"
