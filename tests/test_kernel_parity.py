"""Parity of the keep/drop kernel on boundary fixtures:

    tests/oracle.py (independent Python-re + unicodedata transcription)
 == ccspark.arrowkernel (whole-batch Arrow/RE2 kernel, explicit classes)

plus hand-derived hard expectations so the two can't agree on wrong
semantics.
"""

from __future__ import annotations

import pyarrow as pa

from ccspark import arrowkernel
from tests import oracle
from tests.fixtures import LINE_CASES


def test_arrowkernel_matches_oracle():
    """The Arrow/RE2 whole-batch kernel on the same boundary fixtures
    (drop_reason labels included)."""
    raws = [raw for _, raw in LINE_CASES]
    text, keep, reason = arrowkernel.verdict_batch(
        pa.array(raws, type=pa.string()))
    for i, (case_id, raw) in enumerate(LINE_CASES):
        assert (text[i], bool(keep[i]), reason[i]) == oracle.verdict(raw), \
            case_id


# ---- hand-derived hard expectations (guard against collective drift) ----

HARD = {
    "len_raw_15": False,        # len == 15 fails the > 15 gate
    "len_raw_16_but_short_clean": False,  # 16 a's -> clean keeps 16 chars but CJK gate needs 50
    "len_raw_16_long": True,
    "postlen_url_only": False,
    "illegal_0": False,          # |
    "illegal_1": True,           # © stripped by emoji pass first
    "illegal_3": True,           # ® stripped by emoji pass first
    "illegal_9": False,          # /
    "cjk_16": True,
    "hangul_16": True,
    "hiragana_16": True,
    "katakana_16": True,
    "latin_49": False,
    "latin_50": True,
    "mixed_cjk_latin_20": False,  # mixed scripts -> 50-char gate
    # KEPT, surprisingly: strip_punctuation turns each punct run into a
    # space and len() counts the surviving spaces (17 > 12), the vacuous
    # CJK test grants the 15-char threshold, and !?,;: are not in the
    # punctuation budget.  Faithful to the reference.
    "no_alpha_line": True,
    "dash_3": True,
    "dash_4": False,
    "eq_1": True,
    "eq_2": False,
    "dot_14": True,
    "dot_15": False,
    "star_4": True,
    "star_5": False,
    "bracket_2": True,
    "bracket_3": False,
    "plain_keep": True,
}


def test_hard_expectations_against_oracle():
    for case_id, raw in LINE_CASES:
        if case_id in HARD:
            _, keep, reason = oracle.verdict(raw)
            assert keep == HARD[case_id], f"{case_id}: {keep} ({reason})"


def test_clean_strips_social_and_tags():
    cleaned, keep, _ = oracle.verdict(
        "read this http://t.co/abc123 and keep the rest of the line going on")
    assert "http" not in cleaned
    c2, _, _ = oracle.verdict(
        "some <b>bold</b> claims need <i>italic</i> emphasis to stand out ok")
    assert "<" not in c2 and "bold" in c2


def test_clean_idempotent_on_fixtures():
    """arrowkernel._clean_batch equals oracle.clean on every fixture, and
    a second pass reaches a fixpoint.  Full idempotence doesn't hold in
    general (an '@' revealed by tag-stripping can trigger a second-pass
    deletion), so only pass-3 == pass-2 is asserted."""
    raws = [raw for _, raw in LINE_CASES]
    c1 = arrowkernel._clean_batch(pa.array(raws, type=pa.string()))
    c2 = arrowkernel._clean_batch(c1)
    c3 = arrowkernel._clean_batch(c2)
    for i, (case_id, raw) in enumerate(LINE_CASES):
        assert c1[i].as_py() == oracle.clean(raw), case_id
        assert c2[i].as_py() == oracle.clean(oracle.clean(raw)), case_id
    assert c3.equals(c2)


def test_line_counter_over_kept_lines_only():
    text = (
        "first good line that is long enough to pass every filter easily ok\n"
        "short\n"
        "second good line that is long enough to pass every filter too yes!"
    )
    kept = oracle.process_page(text)
    assert [n for n, _ in kept] == [1, 2]
