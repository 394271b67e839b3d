"""F17: regex PII/toxicity scrub (north_rule extension).

The reference's only scrub is url/@mention/#hashtag removal
(utilities.py:265-270 - our kernel step 2); north_rule asks for an
explicit PII/toxicity scrub.  ``SCRUB_STEPS`` is the one ordered
definition of the PII chain - deterministic, documented patterns
(ccspark/regexes.py) - and RE2 its only engine: the whole-batch
``arrowkernel.scrub_batch``, which the fused Arrow line stage runs (see
api.build_training_corpus) and ``scrub()`` below wraps.  The optional
blocklist filter is a broadcast Catalyst ``rlike``.

Order matters: emails before phones (an email's digits could otherwise
half-match the phone pattern), SSN before IP-ish digit runs, IP before
generic phone (dotted quads would otherwise match the phone class).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

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


def _scrub_flags_udf():
    """One whole-batch RE2 pass: raw text -> (scrubbed, has_<step>...);
    each flag tests its step's pattern on the raw text."""
    import pandas
    import pyarrow as pa
    import pyarrow.compute as pc
    from pyspark.sql.functions import pandas_udf

    from ccspark import arrowkernel

    def scrub_flags(raw: "pandas.Series") -> "pandas.DataFrame":
        arr = pa.Array.from_pandas(raw, type=pa.string())
        cols = {"scrubbed": pc.coalesce(arrowkernel.scrub_batch(arr), arr)}
        for name, pat, _ in SCRUB_STEPS:
            cols[f"has_{name}"] = pc.match_substring_regex(arr, pat)
        return pa.table(cols).to_pandas()

    scrub_flags.__annotations__ = {
        "raw": pandas.Series, "return": pandas.DataFrame}
    schema = ", ".join(["scrubbed string"] + [
        f"has_{name} boolean" for name, _, _ in SCRUB_STEPS])
    return pandas_udf(scrub_flags, schema)


def scrub(df: DataFrame, text_col: str = "text",
          out_col: str = "scrubbed_text") -> DataFrame:
    """Adds the scrubbed text plus per-row redaction flags/count."""
    out = df.withColumn("_s", _scrub_flags_udf()(F.col(text_col)))
    out = out.withColumn(out_col, F.col("_s.scrubbed"))
    for name, _, _ in SCRUB_STEPS:
        out = out.withColumn(f"has_{name}", F.col(f"_s.has_{name}"))
    flags = [F.col(f"has_{n}").cast("int") for n, _, _ in SCRUB_STEPS]
    total = flags[0]
    for f in flags[1:]:
        total = total + f
    return out.drop("_s").withColumn("n_pii_types", total)


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
