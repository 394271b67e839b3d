"""Frozen, independent transcription of the reference keep/drop kernel.

This module re-derives the reference semantics (reference
cc_corpus.py:237-294; gensim.parsing.preprocessing's published regexes;
alphabet_detector's unicodedata test) *directly*, using Python ``re`` with
its native ``\\s``/``\\S`` shorthands and ``unicodedata.name`` - i.e. NOT
via ccspark's explicit dialect-neutral character classes.  It is the one
independent reference for ccspark's single kernel implementation: the
test suite asserts ``verdict`` / ``clean`` == ccspark.arrowkernel row for
row, and the fused production stage == ``process_page`` end to end, so
any transcription error in the explicit classes shows up as a parity
failure here.

The only shared component is the emoji codepoint table
(ccspark.regexes.EMOJI_RANGES): the reference used the `emoji` package,
which is unavailable in this environment, so its behavior is pinned by that
frozen approximation on all sides (documented in ccspark/regexes.py).

The Gopher and C4 document gates are restated per row as well
(``gopher_keep``, ``c4_page_keep``), with CJK detection by
``unicodedata.name`` rather than ccspark.regexes' code-point classes;
they check ccspark.arrowgate and, through the composite, the facade.

It also restates the char-n-gram Naive Bayes LID of ccspark.lid
(``nb_train``, ``nb_scores``, ``nb_predict``) with ``collections.Counter``
and a per-row scoring loop, so the Spark trainer and the numpy batch
scorer are checked against a model and scores computed without them.
"""

from __future__ import annotations

import hashlib
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


# every str.splitlines boundary, with \r\n as one break
_RE_LINE_BREAK = re.compile("\r\n|[\n\r\x0b\x0c\x1c\x1d\x1e\x85\u2028\u2029]")


def split_lines(text: str) -> list:
    """The pieces of the line split, empty and trailing ones included
    ("a\\n" -> ["a", ""], where str.splitlines drops the last piece);
    NULL text gives no pieces."""
    return [] if text is None else _RE_LINE_BREAK.split(text)


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
    grams made the vocabulary has total 0.  A doc with a None label is
    skipped."""
    labels = Counter()
    counts = Counter()
    for text, lang in docs:
        if lang is None:
            continue
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


# ---------------------------------------------------------------------
# Pure-Python restatements of the Spark SQL operators and the Arrow
# gates, for the fuzz and the module tests.

def tld(host: str) -> str:
    """geo.tld_expr: the last dot-label, '' when the host ends in '.'."""
    return host.rsplit(".", 1)[-1]


def registrable_domain(host: str) -> str:
    """geo.domain_expr (tldextract's ``domain`` field): the PSL walk over
    geo's vendored rule sets.  A matching exception rule prevails (the
    domain is its leftmost label); otherwise the longest matching suffix
    wins, where a wildcard ``*.parent`` matches any suffix one label
    deeper than ``parent``, and the domain is the label left of it.  No
    match: the second-from-last label, or the host itself."""
    from ccspark.geo import PSL_EXACT, PSL_EXCEPTIONS, PSL_WILDCARD_PARENTS
    labels = host.split(".")
    n = len(labels)
    for k in range(n, 0, -1):
        if ".".join(labels[-k:]) in PSL_EXCEPTIONS:
            return labels[-k]
    for depth in range(n - 1, 0, -1):
        if (".".join(labels[-depth:]) in PSL_EXACT
                or (depth > 1 and ".".join(labels[-(depth - 1):])
                    in PSL_WILDCARD_PARENTS)):
            return labels[-(depth + 1)]
    return labels[-2] if n >= 2 else host


def _demarked_lower(text: str) -> str:
    return "".join(c for c in text.lower()
                   if not unicodedata.category(c).startswith("M"))


def _alnum_runs(text: str, sep: str) -> str:
    """Every run of characters outside Unicode categories L and N
    replaced by *sep*."""
    out, gap = [], False
    for c in text:
        if unicodedata.category(c)[0] in "LN":
            if gap:
                out.append(sep)
            out.append(c)
            gap = False
        else:
            gap = True
    if gap:
        out.append(sep)
    return "".join(out)


def norm_words(text: str) -> list:
    """decontam.norm_words: lowercase, drop combining marks, split on
    every non-letter/non-digit run."""
    return [w for w in _alnum_runs(_demarked_lower(text), " ").split(" ")
            if w]


def word_grams(words: list, n: int) -> list:
    return [" ".join(words[i:i + n]) for i in range(len(words) - n + 1)]


def char_stream(text: str) -> str:
    """decontam.char_stream: norm_words with the separators removed."""
    return _alnum_runs(_demarked_lower(text), "")


def char_grams(stream: str, n: int) -> list:
    return [stream[i:i + n] for i in range(len(stream) - n + 1)]


def overlap_hits(doc_grams, bench_grams) -> int:
    """Distinct benchmark grams found in a doc (decontam n_hits)."""
    return len(set(doc_grams) & set(bench_grams))


def scrub(text: str) -> str:
    """scrub.SCRUB_STEPS in order through Python re with re.ASCII, so
    \\b is the ASCII word boundary."""
    from ccspark.scrub import SCRUB_STEPS
    for _, pat, repl in SCRUB_STEPS:
        text = re.sub(pat, repl, text, flags=re.ASCII)
    return text


def _cjkish(ch: str) -> bool:
    """A Han/Hangul/Kana letter: alphabet_detector's name test."""
    return ch.isalpha() and any(
        t in unicodedata.name(ch, "")
        for t in ("CJK", "HANGUL", "HIRAGANA", "KATAKANA"))


def c4_page_keep(text: str, min_sentences: int = 5) -> bool:
    """arrowgate.c4_keep_batch for one doc: at least *min_sentences*
    non-empty c4_sentences and neither 'lorem ipsum' nor '{' in the
    lowercased text.  A None text fails."""
    if text is None:
        return False
    low = text.lower()
    return (sum(1 for s in c4_sentences(text) if s) >= min_sentences
            and "lorem ipsum" not in low and "{" not in low)


def gopher_signals(text: str, lang: str = None,
                   stopwords: tuple = None) -> dict:
    """The Gopher document signals (Rae et al. 2021, table A1) of one
    non-None doc, named after the thresholds that read them.

    *stopwords* given: the static gate's signals with that stopword set
    (*lang* is ignored).  *stopwords* None: the language-aware signals -
    *lang* picks the stopword set from quality.GOPHER_STOPWORDS_BY_LANG
    (no set: ``stopword_hits`` is None), and for a space-free language
    (zh/ja/ko, ``space_free`` True) a word is one Han/Hangul/Kana
    letter and the alpha fraction counts letters over non-space
    characters.  Tokens are the non-empty ' '-split pieces; lines split
    on '\\n'; every ratio is rounded HALF_UP to 4 places."""
    from ccspark.quality import GOPHER_STOPWORDS_BY_LANG, SPACE_FREE_LANGS
    sf = stopwords is None and lang in SPACE_FREE_LANGS
    stops = (stopwords if stopwords is not None
             else GOPHER_STOPWORDS_BY_LANG.get(lang))
    tokens = [w for w in text.split(" ") if w]
    n_words = sum(map(_cjkish, text)) if sf else len(tokens)
    nw = max(n_words, 1)
    word_chars = len(text.replace(" ", ""))
    lines = text.split("\n")
    n_lines = len(lines)
    distinct = set(lines)
    line_chars = len(text) - (n_lines - 1)
    dup_chars = max(line_chars - sum(len(ln) for ln in distinct), 0)
    if sf:
        alpha = round4(sum(c.isalpha() for c in text) / max(word_chars, 1))
    else:
        alpha = round4(sum(any(c.isalpha() for c in w) for w in tokens)
                       / max(len(tokens), 1))
    n_sym = text.count("#") + text.count("…") + text.count("...")
    n_bullet = sum(ln.startswith(("- ", "* ", "• ")) for ln in lines)
    n_ellip = sum(ln.endswith(("...", "…")) for ln in lines)
    padded = " " + text.lower().replace("\n", " ") + " "
    return {
        "space_free": sf,
        "n_words": n_words,
        "mean_word_len": round4(word_chars / nw),
        "symbol_word_ratio": round4(n_sym / nw),
        "bullet_frac": round4(n_bullet / n_lines),
        "ellipsis_frac": round4(n_ellip / n_lines),
        "alpha_word_frac": alpha,
        "stopword_hits": (None if stops is None
                          else sum(f" {w} " in padded for w in stops)),
        "dup_line_frac": round4((n_lines - len(distinct)) / n_lines),
        "dup_line_char_frac": round4(dup_chars / max(line_chars, 1)),
    }


# every Gopher rule relaxed: override a subset of these keys and only
# the rules left at their defaults decide
GOPHER_RELAXED = dict(
    min_words=0, max_words=10 ** 9,
    min_mean_word_len=0.0, max_mean_word_len=1e9,
    max_symbol_word_ratio=1e9,
    max_bullet_frac=1e9, max_ellipsis_frac=1e9,
    min_alpha_word_frac=0.0, min_stopword_hits=0,
    max_dup_line_frac=1e9, max_dup_line_char_frac=1e9,
)


def gopher_keep(text: str, lang: str = None, thresholds: dict = None,
                stopwords: tuple = None) -> bool:
    """The Gopher document gate for one doc: its gopher_signals (same
    *lang* and *stopwords* modes) against quality.GOPHER_THRESHOLDS
    overridden by *thresholds*.  A space-free doc skips the
    mean-word-length rule, a doc without a stopword set the stopword
    rule.  A None text fails."""
    from ccspark.quality import GOPHER_THRESHOLDS
    if text is None:
        return False
    t = dict(GOPHER_THRESHOLDS, **(thresholds or {}))
    s = gopher_signals(text, lang, stopwords)
    return (t["min_words"] <= s["n_words"] <= t["max_words"]
            and (s["space_free"]
                 or t["min_mean_word_len"] <= s["mean_word_len"]
                 <= t["max_mean_word_len"])
            and s["symbol_word_ratio"] <= t["max_symbol_word_ratio"]
            and s["bullet_frac"] <= t["max_bullet_frac"]
            and s["ellipsis_frac"] <= t["max_ellipsis_frac"]
            and s["alpha_word_frac"] >= t["min_alpha_word_frac"]
            and (s["stopword_hits"] is None
                 or s["stopword_hits"] >= t["min_stopword_hits"])
            and s["dup_line_frac"] <= t["max_dup_line_frac"]
            and s["dup_line_char_frac"] <= t["max_dup_line_char_frac"])


def round4(x: float) -> float:
    """Spark round(double, 4): HALF_UP on the shortest decimal repr."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal("0.0001"),
                                           rounding=ROUND_HALF_UP))


def c4_sentences(text: str) -> list:
    """The C4 sentence split: newlines, a Latin terminal followed by a
    space (the space is dropped) and an ideographic terminal end a
    sentence; empty sentences are kept."""
    mark = "\x1e"
    t = text.replace("\n", mark)
    t = re.sub(r"([.!?]) ", r"\1" + mark, t)
    t = re.sub("([。！？])", r"\1" + mark, t)
    return t.split(mark)


def word_shingle_jaccard(a: str, b: str, k: int = 3) -> float:
    """Jaccard of two docs' dedup.shingles sets: the distinct ' '-joined
    word k-grams of the ' '-split words (one shingle of all words when
    there are fewer than k), empty shingles dropped; 0.0 when both sets
    are empty."""
    def grams(text):
        ws = text.split(" ")
        return {g for g in (" ".join(ws[i:i + k])
                            for i in range(max(len(ws) - k, 0) + 1)) if g}
    sa, sb = grams(a), grams(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


def token_budget(docs, budget) -> dict:
    """sampling.sample_by_token_budget / sample_by_mixture over
    (doc_id, lang, text): {doc_id: (weight, cum, kept)}.  weight = the
    non-empty ' '-split tokens; each lang is walked in
    (md5(f"{lang}:{doc_id}"), doc_id) order; a doc is kept when the
    tokens before it are under *budget* - an int, or a dict by lang
    (0 for a lang it does not name)."""
    by_lang = {}
    for doc_id, lang, text in docs:
        key = hashlib.md5(f"{lang}:{doc_id}".encode()).hexdigest()
        weight = len([t for t in text.split(" ") if t])
        by_lang.setdefault(lang, []).append((key, doc_id, weight))
    out = {}
    for lang, rows in by_lang.items():
        cum = 0
        for _, doc_id, weight in sorted(rows):
            cum += weight
            b = budget.get(lang, 0) if isinstance(budget, dict) else budget
            out[doc_id] = (weight, cum, cum - weight < b)
    return out
