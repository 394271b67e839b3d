"""Frozen, independent transcription of the reference keep/drop kernel.

This module re-derives the reference semantics (/root/reference
cc_corpus.py:237-294; gensim.parsing.preprocessing's published regexes;
alphabet_detector's unicodedata test) *directly*, using Python ``re`` with
its native ``\\s``/``\\S`` shorthands and ``unicodedata.name`` - i.e. NOT
via ccspark's explicit dialect-neutral character classes.  The test suite
asserts 4-way agreement (this oracle == ccspark.pykernel == the Spark SQL
rendering == the DuckDB rendering), so any transcription error in the
explicit classes shows up as a parity failure here.

The only shared component is the emoji codepoint table
(ccspark.regexes.EMOJI_RANGES): the reference used the `emoji` package,
which is unavailable in this environment, so its behavior is pinned by that
frozen approximation on all sides (documented in ccspark/regexes.py).

It also restates the char-n-gram Naive Bayes LID of ccspark.lid
(``nb_train``, ``nb_scores``, ``nb_predict``) with ``collections.Counter``
and a per-row scoring loop, so the Spark trainer and the numpy batch
scorer are checked against a model and scores computed without them.
"""

from __future__ import annotations

import math
import re
import string
import unicodedata
from collections import Counter
from types import SimpleNamespace

from ccspark.regexes import EMOJI_RANGES

# utilities.strip_tags (utilities.py:265-270)
_RE_URL = re.compile(r"http\S+")
_RE_AT = re.compile(r"@\S+")
_RE_HASH = re.compile(r"#\S+")
_RE_ANGLE = re.compile(r"<[^>]*>")

# gensim.parsing.preprocessing public regexes
_RE_TAGS = re.compile(r"<([^>]+)>", re.UNICODE)
_RE_AL_NUM = re.compile(r"([a-z]+)([0-9]+)", flags=re.UNICODE)
_RE_NUM_AL = re.compile(r"([0-9]+)([a-z]+)", flags=re.UNICODE)
_RE_WHITESPACE = re.compile(r"(\s)+", re.UNICODE)
_RE_NUMERIC = re.compile(r"[0-9]+", re.UNICODE)
_RE_PUNCT = re.compile(r"([%s])+" % re.escape(string.punctuation), re.UNICODE)

_EMOJI = re.compile(
    "[" + "".join(
        (re.escape(chr(a)) if a == b else re.escape(chr(a)) + "-" + re.escape(chr(b)))
        for a, b in EMOJI_RANGES
    ) + "]"
)

ILLEGAL_CHAR = ("|", "©", "«", "®", "»", "˂", "˃", "˄", "˅", "/", "\\", "{", "}")


def _strip_tags_social(line: str) -> str:
    line = _RE_URL.sub("", line)
    line = _RE_AT.sub("", line)
    line = _RE_HASH.sub("", line)
    return _RE_ANGLE.sub("", line)


def clean(line: str) -> str:
    """The reference pipe() chain (cc_corpus.py:258-266)."""
    line = _strip_tags_social(line)
    line = _EMOJI.sub("", line)
    line = _RE_TAGS.sub("", line)
    line = _RE_AL_NUM.sub(r"\1 \2", line)
    line = _RE_NUM_AL.sub(r"\1 \2", line)
    return _RE_WHITESPACE.sub(" ", line)


def _only_alphabet(line: str, token: str) -> bool:
    """alphabet_detector semantics: every isalpha() char's unicodedata
    name contains *token* (vacuously True with no alpha chars)."""
    for ch in line:
        if ch.isalpha():
            try:
                if token not in unicodedata.name(ch):
                    return False
            except ValueError:
                return False
    return True


def is_short_alphabet(line: str) -> bool:
    return any(
        _only_alphabet(line, t)
        for t in ("CJK", "HANGUL", "HIRAGANA", "KATAKANA")
    )


def verdict(raw: str):
    """(cleaned, keep, drop_reason) - reference evaluation order."""
    if raw is None or len(raw) <= 15:
        return None, False, "rawlen"
    line = clean(raw)
    if len(line) <= 15:
        return line, False, "postlen"
    if any(ch in line for ch in ILLEGAL_CHAR):
        return line, False, "illegal"
    character_only = _RE_PUNCT.sub(" ", _RE_NUMERIC.sub("", line))
    if len(character_only) <= 12:
        return line, False, "alphamass"
    length = 15 if is_short_alphabet(line) else 50
    if len(line) < length:
        return line, False, "cjklen"
    counts = {}
    for ch in line:
        counts[ch] = counts.get(ch, 0) + 1
    budget = (("-", 4), ("(", 4), (")", 4), ("=", 2), ("_", 2),
              (".", 15), ("&", 4), ("[", 3), ("]", 3), ("*", 5))
    if not all(counts.get(c, 0) < k for c, k in budget):
        return line, False, "punct"
    return line, True, None


def process_page(text: str):
    """Reference page loop (cc_corpus.py:252-293): returns the kept lines
    as (line_id, cleaned) with the 1-based counter over kept lines only."""
    out = []
    n = 0
    for raw in text.splitlines():
        cleaned, keep, _ = verdict(raw)
        if keep:
            n += 1
            out.append((n, cleaned))
    return out


# ---------------------------------------------------------------------
# char-n-gram multinomial Naive Bayes LID (ccspark.lid), restated with
# Counter and per-row loops

def nb_grams(text: str, n: int) -> list:
    """Sliding n-grams of the space-padded lowercased text; a text
    shorter than n yields its whole padded form (never a vocab gram)."""
    t = f" {text.lower()} "
    return [t[i:i + n] for i in range(max(len(t) - n + 1, 1))]


def nb_train(docs, n: int, top_k: int) -> SimpleNamespace:
    """Train on (text, label) pairs: per-(label, gram) counts, the top_k
    grams by (total count desc, gram asc), Laplace smoothing over the
    vocabulary, log priors from label frequencies.  A label none of whose
    grams made the vocabulary has total 0."""
    labels = Counter()
    counts = Counter()
    for text, lang in docs:
        labels[lang] += 1
        if text is None:
            continue
        for g in nb_grams(text, n):
            if len(g) == n:
                counts[(lang, g)] += 1
    totals = Counter()
    for (_, g), c in counts.items():
        totals[g] += c
    vocab = set(sorted(totals, key=lambda g: (-totals[g], g))[:top_k])
    lang_tot = {lang: 0 for lang in labels}
    for (lang, g), c in counts.items():
        if g in vocab:
            lang_tot[lang] += c
    v = len(vocab)
    n_docs = sum(labels.values())
    return SimpleNamespace(
        n=n,
        priors={lang: math.log(c / n_docs) for lang, c in labels.items()},
        loglik={(lang, g): math.log((c + 1) / (lang_tot[lang] + v + 1))
                for (lang, g), c in counts.items() if g in vocab},
        vocab=vocab,
        alpha_denom={lang: math.log(1.0 / (tot + v + 1))
                     for lang, tot in lang_tot.items()})


def nb_scores(model, text: str) -> dict:
    """label -> log prior plus, for each vocab gram of the text in order,
    its log-likelihood (or the label's unseen-gram value)."""
    scores = dict(model.priors)
    for g in nb_grams(text, model.n):
        if g in model.vocab:
            for lang in scores:
                scores[lang] += model.loglik.get((lang, g),
                                                 model.alpha_denom[lang])
    return scores


def nb_predict(model, text: str, min_len: int = 0) -> str:
    """Argmax label (score desc, label asc); "ukn" for None or a text of
    at most min_len characters."""
    if text is None or len(text) <= min_len:
        return "ukn"
    scores = nb_scores(model, text)
    return max(sorted(scores), key=lambda lg: scores[lg])
