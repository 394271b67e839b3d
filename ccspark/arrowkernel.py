"""Arrow/RE2-vectorized rendering of the keep/drop + clean kernel.

The one implementation of the reference chain (cc_corpus.py:254-293)
in ccspark, evaluated as WHOLE-BATCH pyarrow.compute kernels instead of
a per-row Python loop.  pyarrow's string-regex kernels
(``replace_substring_regex`` / ``match_substring_regex``) are backed by
RE2 in C++ - precisely the "different regex engine" the round-2
kernel-throughput experiment named as the only thing worth revisiting
the measured pandas-UDF optimum for.

Why this is byte-identical by construction:

* Every pattern in ``ccspark.regexes`` is dialect-neutral across
  Python re / Java regex / RE2 (explicit codepoint classes, no shorthand
  classes, no backreferences-in-pattern, no lookaround), and the kernel
  renderings are checked against the Python-re oracle (tests/oracle.py)
  row for row.
* Each pass is guarded by an exact trigger ("the url pass needs
  'http'") - a pattern cannot match without its trigger substring - so
  a guarded pass and an unconditional pass produce the same bytes.  The
  guards are BATCH SUBSETS: each pass runs via
  take -> replace -> replace_with_mask on only the rows whose trigger
  fires (trigger rates on crawl text are 5-40%), with a density cutoff
  above which the whole-array pass is cheaper than take+scatter.
* None of the chain's patterns can match the empty string (each has a
  required literal or a ``+``), so Python-re vs RE2 empty-match
  advancement differences never arise.
* ``str.isalpha()`` == Unicode category L* == RE2 ``\\p{L}`` (the same
  equivalence the SQL renderings rely on, fuzz-tested cross-engine in
  tests/test_cross_engine_fuzz.py).

Parity with the independent transcription tests/oracle.py (``verdict``,
``clean``) is asserted row-for-row in tests/test_kernel_parity.py
(boundary fixtures) and tests/test_kernel_properties.py (hypothesis
adversarial batches).

The first-failing-rule evaluation order (rawlen, postlen, illegal,
alphamass, cjklen, punct) is replicated with ``np.select`` over the rule
masks, which picks the first true mask per row.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ccspark import regexes as R

_STRIP_ALPHABETS = (
    R.CJK_CLASS, R.HANGUL_CLASS, R.HIRAGANA_CLASS, R.KATAKANA_CLASS)

_REASONS = ("rawlen", "postlen", "illegal", "alphamass", "cjklen", "punct")

# multi_ws is an identity rewrite on lines whose only whitespace is
# isolated single spaces; it can CHANGE a line only if the line contains a
# non-space whitespace char or two adjacent spaces.
_WS_NONSPACE_CLASS = R.char_class("".join(
    ch for ch in R.WS_CHARS if ch != " "))
_MULTI_WS_TRIGGER = _WS_NONSPACE_CLASS + "|  "

# Above this trigger density the take+scatter bookkeeping costs more than
# just running the pass over the whole array.
_DENSITY_CUTOFF = 0.6


def _punct_budget_pattern() -> str:
    """The 10 per-char budget gates folded into ONE RE2 alternation: a line
    violates the budget iff it matches any ``(?:[^c]*c){k}`` arm (">= k
    occurrences of c").  Measured ~8x cheaper than 10 count_substring
    passes, and bit-identical (asserted against the count formulation in
    tests)."""
    def in_class(ch: str) -> str:
        return "\\" + ch if ch in "]^-\\[&" else ch

    def literal(ch: str) -> str:
        return "\\" + ch if ch in ".-()=_&[]*\\^$|?+{}" else ch

    return "|".join(
        "(?:[^%s]*%s){%d}" % (in_class(ch), literal(ch), k)
        for ch, k in R.PUNCT_BUDGET)


_PUNCT_BUDGET_RE = _punct_budget_pattern()


def _np_bool(mask) -> np.ndarray:
    """Arrow boolean (possibly with nulls at null-input rows) -> numpy.
    Null rows are classified 'rawlen' by the first mask, so their value in
    later masks is irrelevant - fill False."""
    if mask.null_count:
        mask = pc.fill_null(mask, False)
    return mask.to_numpy(zero_copy_only=False)


def _sub(arr, pattern: str, repl: str):
    return pc.replace_substring_regex(arr, pattern=pattern, replacement=repl)


def _sub_where(arr, trigger_mask, pattern: str, repl: str):
    """Apply a regex rewrite only to rows where the (exact) trigger fires;
    rows without the trigger are returned untouched.  Byte-identical to an
    unconditional pass because a pattern cannot match a row its trigger
    substring is absent from."""
    m = _np_bool(trigger_mask)
    n_hit = int(m.sum())
    if n_hit == 0:
        return arr
    if n_hit > _DENSITY_CUTOFF * len(arr):
        return _sub(arr, pattern, repl)
    mask = pa.array(m)
    sub = arr.filter(mask)
    return pc.replace_with_mask(arr, mask, _sub(sub, pattern, repl))


def _clean_batch(c):
    """Steps 2-6 of the reference chain (oracle.clean), whole-batch,
    each pass subset-guarded by its trigger."""
    c = _sub_where(c, pc.match_substring(c, "http"), R.RE_URL, "")
    c = _sub_where(c, pc.match_substring(c, "@"), R.RE_AT, "")
    c = _sub_where(c, pc.match_substring(c, "#"), R.RE_HASHTAG, "")
    c = _sub_where(c, pc.match_substring(c, "<"), R.RE_ANGLE, "")
    c = _sub_where(c, pc.invert(pc.string_is_ascii(c)), R.EMOJI_CLASS, "")
    c = _sub_where(c, pc.match_substring(c, "<"), R.RE_GENSIM_TAGS, "")
    digits = pc.match_substring_regex(c, "[0-9]")
    c = _sub_where(c, digits, R.RE_AL_NUM, "\\1 \\2")
    c = _sub_where(c, digits, R.RE_NUM_AL, "\\1 \\2")
    return _sub_where(c, pc.match_substring_regex(c, _MULTI_WS_TRIGGER),
                      R.RE_MULTI_WS, " ")


def verdict_batch(raw):
    """Whole-batch kernel: StringArray -> (text, keep, drop_reason)
    numpy arrays (object/bool/object), row-aligned with ``raw``.

    Matches ``[oracle.verdict(x) for x in batch]`` (tests/oracle.py)
    exactly, including None inputs and drop_reason labels."""
    if not isinstance(raw, (pa.Array, pa.ChunkedArray)):
        raw = pa.array(raw, type=pa.string())
    if isinstance(raw, pa.ChunkedArray):
        raw = raw.combine_chunks()
    n = len(raw)

    text = np.full(n, None, dtype=object)
    keep = np.zeros(n, dtype=bool)
    reason = np.full(n, None, dtype=object)

    # rawlen gate first: the whole chain runs only on survivors (about
    # half the split lines die here before any regex work).
    alive_np = ~_np_bool(pc.or_kleene(
        pc.is_null(raw), pc.less_equal(pc.utf8_length(raw), 15)))
    reason[~alive_np] = "rawlen"
    alive = np.flatnonzero(alive_np)
    if alive.size == 0:
        return text, keep, reason
    c = pc.take(raw, pa.array(alive))

    c = _clean_batch(c)
    nlen = pc.utf8_length(c)

    postlen_bad = _np_bool(pc.less_equal(nlen, 15))
    illegal_bad = _np_bool(pc.match_substring_regex(c, R.ILLEGAL_CLASS))
    alphamass_bad = _np_bool(pc.less_equal(
        pc.utf8_length(_sub(_sub(c, R.RE_NUMERIC, ""), R.PUNCT_CLASS, " ")),
        12))

    # cjklen applies only to 16..49-char cleaned lines not already dropped;
    # the 8 alphabet-strip passes run on that (small) subset only.
    lt50 = _np_bool(pc.less(nlen, 50))
    need = np.flatnonzero(
        lt50 & ~(postlen_bad | illegal_bad | alphamass_bad))
    cjklen_bad = np.zeros(len(c), dtype=bool)
    if need.size:
        sub = pc.take(c, pa.array(need))
        short = None
        for cls in _STRIP_ALPHABETS:
            no_alpha = pc.invert(
                pc.match_substring_regex(_sub(sub, cls, ""), R.ALPHA_CLASS))
            short = no_alpha if short is None else pc.or_(short, no_alpha)
        cjklen_bad[need] = ~_np_bool(short)

    punct_bad = _np_bool(pc.match_substring_regex(c, _PUNCT_BUDGET_RE))

    sub_reason = np.select(
        [postlen_bad, illegal_bad, alphamass_bad, cjklen_bad, punct_bad],
        _REASONS[1:], default=None)
    text[alive] = c.to_numpy(zero_copy_only=False)
    reason[alive] = sub_reason
    keep[alive] = sub_reason == np.array(None)
    return text, keep, reason


# Every SCRUB_STEPS pattern needs a digit or an '@' (email: '@'; ssn, ip,
# cc, phone: [0-9]), so the chain can change only the rows matching this
# exact trigger.
_PII_TRIGGER = "[0-9@]"


def scrub_batch(raw):
    """The PII scrub chain (scrub.SCRUB_STEPS, the ONE ordered
    definition) over a whole StringArray: returns a StringArray holding
    the scrubbed line where the chain changed the line, NULL elsewhere
    (unchanged, NULL or trigger-free rows).  The five passes run only
    on the rows matching the digit/'@' trigger, subset once like
    ``_sub_where``; the replacements carry no backreferences.  RE2's
    ``\\b`` is the ASCII word boundary, as in Python's ``re.ASCII``
    (tests/oracle.py::scrub, fuzzed in
    tests/test_cross_engine_fuzz.py::test_fuzz_pii_chain)."""
    from ccspark.scrub import SCRUB_STEPS

    out = pa.nulls(len(raw), pa.string())
    hit = np.flatnonzero(_np_bool(pc.match_substring_regex(
        raw, _PII_TRIGGER)))
    if hit.size == 0:
        return out
    sub = before = raw.take(pa.array(hit))
    for _, pat, repl in SCRUB_STEPS:
        sub = _sub(sub, pat, repl)
    changed = _np_bool(pc.not_equal(sub, before))
    mask = np.zeros(len(raw), dtype=bool)
    mask[hit] = changed
    return pc.replace_with_mask(out, pa.array(mask),
                                sub.filter(pa.array(changed)))
