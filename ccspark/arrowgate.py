"""Arrow/RE2-vectorized rendering of the Gopher and C4 document gates.

The one rendering of the Gopher gate: the static English stopword set,
or the language-aware dispatch (per-lang stopword sets, CJK
char-counted words, token-shape gates bypassed for space-free scripts).
The composite's fused page stage (api.build_training_corpus) and
quality.domain_quality run it.  Same approach as ``ccspark.arrowkernel``:
every per-doc signal becomes a batch pyarrow.compute kernel, so no
per-row Python loop - the measured throughput ceiling of the composite
pipeline - runs.

Signal-by-signal equivalences with the per-row restatement
(tests/oracle.py::gopher_keep):

* token count   = ``count_substring_regex(text, '[^ ]+')`` == number of
  non-empty ``split(' ')`` tokens (newlines stay inside tokens).
* word_chars    = ``len(text) - count(' ')`` == ``len(text.replace(' ',''))``.
* symbol counts = ``count_substring`` is non-overlapping, matching
  ``str.count`` exactly (incl. the '...' convention).
* bullets/ellipses = one RE2 count pass each over the text with an
  explicit newline sentinel (``'\\n' + text`` / ``text + '\\n'``), with
  LITERAL ``\\n`` delimiters in the pattern instead of ``(?m)^``/``$``
  anchors: pyarrow's count_substring_regex resumes scanning by treating
  the remainder as fresh text, so ``^`` RE-ANCHORS at every resume
  point ("- - a" would count 2 bullets).  Literal delimiters cannot
  re-match without consuming a real newline, so each line counts at
  most once - exactly the per-line startswith/endswith semantics.
* alpha tokens  = count of ``' [^ \\p{L}]*\\p{L}'`` over ``' ' + text``
  (same re-anchoring dodge: a ``(?:^| )`` alternation overcounts under
  resume-re-anchoring, the space-sentinel form is count-equal to the
  token-level Python loop).
* duplicate-line signals = split into a ListArray, ``dictionary_encode``
  the flattened lines (one C-side hash of every line in the batch), then
  integer-only numpy: per-doc distinct-line counts and distinct-line
  char sums via ``np.unique`` over ``parent * D + code`` keys.
* round(x, 4)   = vectorized HALF_UP with a guard band: rows whose
  scaled value lies within 1e-9 of the .5 rounding boundary are re-done
  through the scalar ``quality._round4`` (Decimal-on-repr), so boundary
  docs agree with Spark's ``round(x, 4)`` bit-for-bit.

Parity with tests/oracle.py (``gopher_keep``, ``gopher_signals``,
``c4_page_keep``) is asserted on boundary fixtures, the sf0.001 pages
and seeded adversarial batches in tests/test_gopher.py and
tests/test_cross_engine_fuzz.py.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def _round4_vec(x: np.ndarray) -> np.ndarray:
    """Vectorized quality._round4 (HALF_UP at 4 decimals) with a scalar
    fallback inside the FP guard band around the rounding boundary."""
    from ccspark.quality import _round4
    scaled = x * 10000.0
    y = np.floor(scaled + 0.5) / 10000.0
    frac = scaled - np.floor(scaled)
    # guard band RELATIVE to magnitude: one ULP of `scaled` exceeds a
    # fixed 1e-9 once scaled > ~1e7, so an absolute band would miss
    # boundary cases on huge signal values (ADVICE r3) - 4e-16 ~ 2 ULP
    # of a double's relative precision
    band = np.maximum(1e-9, np.abs(scaled) * 4e-16)
    risky = np.abs(frac - 0.5) < band
    if risky.any():
        idx = np.flatnonzero(risky)
        y[idx] = [_round4(float(v)) for v in x[idx]]
    return y


def _sub(arr, pattern: str, repl: str):
    return pc.replace_substring_regex(arr, pattern=pattern,
                                      replacement=repl)


def _np_bool(mask) -> np.ndarray:
    """Arrow boolean (nulls allowed) -> numpy bool, nulls as False."""
    if mask.null_count:
        mask = pc.fill_null(mask, False)
    return mask.to_numpy(zero_copy_only=False)


def _cnt(arr, pattern: str) -> np.ndarray:
    return pc.count_substring_regex(arr, pattern).to_numpy(
        zero_copy_only=False).astype(np.int64)


def _lit_cnt(arr, s: str) -> np.ndarray:
    return pc.count_substring(arr, s).to_numpy(
        zero_copy_only=False).astype(np.int64)


def _dup_line_signals(text: pa.Array):
    """(n_lines, n_distinct, line_chars, distinct_chars) per doc, via one
    dictionary_encode of every line in the batch + integer numpy."""
    n = len(text)
    lines = pc.split_pattern(text, "\n")
    n_lines = pc.list_value_length(lines).to_numpy(
        zero_copy_only=False).astype(np.int64)
    flat = pc.list_flatten(lines)
    parents = pc.list_parent_indices(lines).to_numpy(
        zero_copy_only=False).astype(np.int64)
    enc = flat.dictionary_encode()
    codes = enc.indices.to_numpy(zero_copy_only=False).astype(np.int64)
    dict_lens = pc.utf8_length(enc.dictionary).to_numpy(
        zero_copy_only=False).astype(np.int64)
    d = max(len(enc.dictionary), 1)
    uniq = np.unique(parents * d + codes)
    up, uc = uniq // d, uniq % d
    n_distinct = np.bincount(up, minlength=n).astype(np.int64)
    distinct_chars = np.bincount(
        up, weights=dict_lens[uc], minlength=n).astype(np.int64)
    total_chars = pc.utf8_length(text).to_numpy(
        zero_copy_only=False).astype(np.int64)
    line_chars = total_chars - (n_lines - 1)
    return n_lines, n_distinct, line_chars, distinct_chars


def _stopword_hits(padded: pa.Array, stops) -> np.ndarray:
    hits = np.zeros(len(padded), dtype=np.int64)
    for w in stops:
        m = pc.match_substring(padded, f" {w} ")
        if m.null_count:
            m = pc.fill_null(m, False)
        hits += m.to_numpy(zero_copy_only=False)
    return hits


def gopher_keep_batch(texts, langs=None,
                      thresholds: dict | None = None) -> np.ndarray:
    """Batch keep verdicts.  With ``langs`` -> the language-aware gate;
    without -> the static gate with the English stopword set
    (GOPHER_STOPWORDS).  A NULL text fails.  Unknown *thresholds* keys
    raise ValueError (quality.gopher_thresholds)."""
    from ccspark import regexes as R
    from ccspark.quality import (
        GOPHER_STOPWORDS, GOPHER_STOPWORDS_BY_LANG, SPACE_FREE_LANGS,
        gopher_thresholds,
    )
    t = gopher_thresholds(thresholds)
    ml = langs is not None

    if not isinstance(texts, (pa.Array, pa.ChunkedArray)):
        texts = pa.array(texts, type=pa.string())
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n_all = len(texts)
    keep_all = np.zeros(n_all, dtype=bool)

    valid = np.flatnonzero(~_np_null(texts))
    if valid.size == 0:
        return keep_all
    text = pc.take(texts, pa.array(valid))
    lang = None
    if ml:
        if not isinstance(langs, (pa.Array, pa.ChunkedArray)):
            langs = pa.array(langs, type=pa.string())
        if isinstance(langs, pa.ChunkedArray):
            langs = langs.combine_chunks()
        lang = pc.take(langs, pa.array(valid))
    n = len(text)

    if ml:
        sf = pc.is_in(lang, value_set=pa.array(list(SPACE_FREE_LANGS)))
        sf = pc.fill_null(sf, False).to_numpy(zero_copy_only=False)
    else:
        sf = np.zeros(n, dtype=bool)

    # token count as 'space followed by non-space' on a lead-padded copy
    # (~20% cheaper than the equivalent '[^ ]+' run count, equal values)
    lead_sp = pc.binary_join_element_wise(
        pa.array([" "] * n), text, "")
    n_tok = _cnt(lead_sp, " [^ ]")
    n_words = n_tok
    if sf.any():
        n_words = n_tok.copy()
        idx = np.flatnonzero(sf)
        n_words[idx] = _cnt(pc.take(text, pa.array(idx)), R.CJKISH_CLASS)

    total_chars = pc.utf8_length(text).to_numpy(
        zero_copy_only=False).astype(np.int64)
    word_chars = total_chars - _lit_cnt(text, " ")
    nw = np.maximum(n_words, 1)

    ok = (n_words >= t["min_words"]) & (n_words <= t["max_words"])

    mwl = _round4_vec(word_chars / nw)
    ok &= sf | ((mwl >= t["min_mean_word_len"])
                & (mwl <= t["max_mean_word_len"]))

    n_sym = (_lit_cnt(text, "#") + _lit_cnt(text, "…")
             + _lit_cnt(text, "..."))
    ok &= _round4_vec(n_sym / nw) <= t["max_symbol_word_ratio"]

    n_lines, n_distinct, line_chars, distinct_chars = \
        _dup_line_signals(text)
    nl = np.maximum(n_lines, 1)
    nsent = pa.array(["\n"] * n)
    lead_nl = pc.binary_join_element_wise(nsent, text, "")
    n_bullet = _cnt(lead_nl, r"\n(?:- |\* |• )")
    ok &= _round4_vec(n_bullet / nl) <= t["max_bullet_frac"]
    trail_nl = pc.binary_join_element_wise(text, nsent, "")
    n_ellip = _cnt(trail_nl, r"(?:\.\.\.|…)\n")
    ok &= _round4_vec(n_ellip / nl) <= t["max_ellipsis_frac"]

    # cheap dup-line checks BEFORE the expensive alpha/stopword stages
    # (the gate returns only the conjunction, so check order is free)
    ok &= _round4_vec((n_lines - n_distinct) / nl) <= t["max_dup_line_frac"]
    dup_chars = np.maximum(line_chars - distinct_chars, 0)
    ok &= (_round4_vec(dup_chars / np.maximum(line_chars, 1))
           <= t["max_dup_line_char_frac"])

    # expensive late stages run only on still-alive rows (the batch
    # analog of a per-row loop's early exits: on real crawls the
    # cheap shape gates above kill 30-70% of docs first)
    alpha_frac = np.full(n, np.inf, dtype=np.float64)
    nonsf = np.flatnonzero(~sf & ok)
    if nonsf.size:
        sub = pc.take(lead_sp, pa.array(nonsf))
        n_alpha_tok = _cnt(sub, " [^ \\p{L}]*\\p{L}")
        alpha_frac[nonsf] = _round4_vec(
            n_alpha_tok / np.maximum(n_tok[nonsf], 1))
    sfi = np.flatnonzero(sf & ok)
    if sfi.size:
        sub = pc.take(text, pa.array(sfi))
        n_letters = _cnt(sub, R.ALPHA_CLASS)
        alpha_frac[sfi] = _round4_vec(
            n_letters / np.maximum(word_chars[sfi], 1))
    ok &= alpha_frac >= t["min_alpha_word_frac"]

    def _padded(idx: np.ndarray) -> pa.Array:
        sub = pc.take(text, pa.array(idx))
        sp = pa.array([" "] * len(idx))
        return pc.binary_join_element_wise(
            sp, pc.utf8_lower(pc.replace_substring(sub, "\n", " ")),
            sp, "")

    if ml:
        lang_np = lang.to_numpy(zero_copy_only=False)
        for lg, stops in GOPHER_STOPWORDS_BY_LANG.items():
            idx = np.flatnonzero((lang_np == lg) & ok)
            if idx.size == 0:
                continue
            hits = _stopword_hits(_padded(idx), stops)
            ok[idx] &= hits >= t["min_stopword_hits"]
    else:
        idx = np.flatnonzero(ok)
        if idx.size:
            hits = _stopword_hits(_padded(idx), GOPHER_STOPWORDS)
            ok[idx] &= hits >= t["min_stopword_hits"]

    keep_all[valid] = ok
    return keep_all


def _np_null(arr: pa.Array) -> np.ndarray:
    return pc.is_null(arr).to_numpy(zero_copy_only=False)


def c4_keep_batch(texts, min_sentences: int = 5) -> np.ndarray:
    """Batch C4 page verdicts: >= min_sentences non-empty sentences
    (mark-and-split: a newline, a Latin terminal followed by a space and
    an ideographic terminal each end a sentence) and none of
    C4_BAD_SUBSTRINGS in the lowercased text.  A NULL text fails.
    Verdict-parity with tests/oracle.py::c4_page_keep is asserted in
    tests."""
    from ccspark.quality import C4_BAD_SUBSTRINGS, SENT_MARK
    if not isinstance(texts, (pa.Array, pa.ChunkedArray)):
        texts = pa.array(texts, type=pa.string())
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    n_all = len(texts)
    keep_all = np.zeros(n_all, dtype=bool)
    valid = np.flatnonzero(~_np_null(texts))
    if valid.size == 0:
        return keep_all
    text = pc.take(texts, pa.array(valid))

    marked = pc.replace_substring(text, "\n", SENT_MARK)
    marked = _sub(marked, r"([.!?]) ", "\\1" + SENT_MARK)
    marked = _sub(marked, "([。！？])", "\\1" + SENT_MARK)
    ll = pc.split_pattern(marked, SENT_MARK)
    flat_nonempty = pc.greater(
        pc.utf8_length(pc.list_flatten(ll)), 0).to_numpy(
        zero_copy_only=False)
    parents = pc.list_parent_indices(ll).to_numpy(zero_copy_only=False)
    n_sent = np.bincount(
        parents, weights=flat_nonempty, minlength=len(text)).astype(
        np.int64)
    ok = n_sent >= min_sentences

    low = pc.utf8_lower(text)
    for b in C4_BAD_SUBSTRINGS:
        m = pc.match_substring(low, b)
        ok &= ~_np_bool(m)
    keep_all[valid] = ok
    return keep_all

