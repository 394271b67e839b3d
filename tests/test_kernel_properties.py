"""Property-based cross-validation of the kernel (no Spark needed):
random unicode lines through the independent oracle and the production
Arrow/RE2 kernel must always agree, and structural invariants must
hold."""

from __future__ import annotations

import pyarrow as pa
from hypothesis import given, settings, strategies as st

from ccspark import arrowkernel
from tests import oracle

# A text alphabet biased toward the interesting classes: ascii, punctuation,
# whitespace variants, CJK/Hangul/Kana, emoji, illegal chars, urls.
CHUNKS = st.sampled_from([
    "word", "the", "a", "1234", "!!", "...", "-", "=", "_", "[", "]", "*",
    " ", "\t", " ", "　", "|", "/", "\\", "{", "}", "«", "»",
    "中文", "한국", "あい", "アイ", "\U0001F600", "©", "®",
    "http://x.co/y", "@user", "#tag", "<b>", "</b>", "<>", "abc123",
    "This is a long english sentence to push lines over fifty characters.",
])
LINES = st.lists(CHUNKS, min_size=0, max_size=30).map("".join)


@settings(max_examples=300, deadline=None)
@given(LINES)
def test_kept_line_invariants(line):
    text, keep, reason = arrowkernel.verdict_batch([line])
    cleaned, keep, reason = text[0], bool(keep[0]), reason[0]
    assert (cleaned, keep, reason) == oracle.verdict(line)
    if keep:
        assert reason is None
        assert len(cleaned) > 15
        assert not any(c in cleaned for c in oracle.ILLEGAL_CHAR)
        for ch, k in (("-", 4), ("(", 4), (")", 4), ("=", 2), ("_", 2),
                      (".", 15), ("&", 4), ("[", 3), ("]", 3), ("*", 5)):
            assert cleaned.count(ch) < k
    else:
        assert reason in {"rawlen", "postlen", "illegal", "alphamass",
                          "cjklen", "punct"}


@settings(max_examples=200, deadline=None)
@given(LINES)
def test_clean_second_pass_stable(line):
    def clean(s):
        return arrowkernel._clean_batch(pa.array([s], type=pa.string()))[
            0].as_py()
    c1 = clean(line)
    assert c1 == oracle.clean(line)
    c2 = clean(c1)
    # cleaning is not strictly idempotent (tag-stripping can expose new
    # @/# tokens) but must reach a fixpoint by the second pass for any
    # realistic input; assert pass-3 == pass-2.
    assert clean(c2) == c2


@settings(max_examples=200, deadline=None)
@given(st.lists(LINES, min_size=0, max_size=6).map("\n".join))
def test_page_counter_dense(text):
    kept = oracle.process_page(text)
    assert [n for n, _ in kept] == list(range(1, len(kept) + 1))


@settings(max_examples=150, deadline=None)
@given(st.lists(LINES | st.none(), min_size=0, max_size=40))
def test_arrowkernel_batch_equals_oracle(lines):
    """The Arrow/RE2 whole-batch kernel is row-for-row identical to the
    independent oracle - including None inputs and the drop_reason
    label."""
    text, keep, reason = arrowkernel.verdict_batch(
        pa.array(lines, type=pa.string()))
    for i, line in enumerate(lines):
        assert (text[i], bool(keep[i]), reason[i]) == oracle.verdict(line)
