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

The near-dup layer (ccspark.dedup) is restated from a pure-Python XXH64
(``xxhash64``, checked against Spark's): the word-k-gram hash fold, the
MinHash signature and the ``dedup_near`` survivor set.

The per-key cap (ccspark.skew) is restated with ``hashlib.md5`` and a
per-group sort (``cap_per_key``).

The paper's last two stages are restated from their module docstrings:
the greedy per-domain sample accumulator of ccspark.chunker
(``greedy_samples``) and the per-cell unigram-LM outlier cut of
ccspark.quality (``outlier_marks``).
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
# Pure-Python restatements of the geo gate, the Spark SQL operators and
# the Arrow gates, for the fuzz and the module tests.

def host(url):
    """The url's lowercased host, as the Spark SQL ``host_expr`` that
    geo.geo_batch replaced defined it: strip a scheme (a letter, then
    letters, digits, '+', '.' or '-', then '://') at the start; keep the
    authority, everything before the first '/', '?' or '#'; strip
    userinfo, everything up to and including the first '@'; strip a ':'
    followed only by digits at the very end; lowercase.  A newline is an
    ordinary character throughout.  None for a None url."""
    if url is None:
        return None
    s = re.sub(r"\A[A-Za-z][A-Za-z0-9+.\-]*://", "", url)
    s = re.match(r"[^/?#]*", s).group()
    s = re.sub(r"\A[^@]*@", "", s)
    s = re.sub(r":[0-9]*\Z", "", s)
    return s.lower()


def tld(host: str) -> str:
    """geo's tld: the last dot-label, '' when the host ends in '.'."""
    return host.rsplit(".", 1)[-1]


def registrable_domain(host: str) -> str:
    """geo's domain (tldextract's ``domain`` field): the PSL walk over
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


def round_half_up(x: float, places: int) -> float:
    """Spark round(double, places): HALF_UP on the shortest decimal
    repr."""
    from decimal import ROUND_HALF_UP, Decimal
    return float(Decimal(repr(x)).quantize(Decimal(1).scaleb(-places),
                                           rounding=ROUND_HALF_UP))


def round4(x: float) -> float:
    return round_half_up(x, 4)


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
    """Jaccard of two docs' word-k-gram sets: the distinct ' '-joined
    word k-grams of the ' '-split words (one gram of all words when
    there are fewer than k), empty grams dropped; 0.0 when both sets
    are empty.  Strings, not hashes: it checks that dedup's hashed gram
    sets have the sizes and overlaps of the grams themselves."""
    def grams(text):
        ws = text.split(" ")
        return {g for g in (" ".join(ws[i:i + k])
                            for i in range(max(len(ws) - k, 0) + 1)) if g}
    sa, sb = grams(a), grams(b)
    union = len(sa | sb)
    return len(sa & sb) / union if union else 0.0


# ---- near-dup hash family (ccspark.dedup) --------------------------------

_M64 = (1 << 64) - 1
_P1, _P2, _P3 = 11400714785074694791, 14029467366897019727, \
    1609587929392839161
_P4, _P5 = 9650029242287828579, 2870177450012600261


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _M64


def _round(acc: int, lane: int) -> int:
    return _rotl((acc + lane * _P2) & _M64, 31) * _P1 & _M64


def xxh64(data: bytes, seed: int) -> int:
    """The XXH64 digest of *data* (unsigned), lanes read little-endian."""
    n, i = len(data), 0

    def lane(j, w):
        return int.from_bytes(data[j:j + w], "little")

    if n >= 32:
        v = [(seed + _P1 + _P2) & _M64, (seed + _P2) & _M64, seed,
             (seed - _P1) & _M64]
        while i + 32 <= n:
            v = [_round(v[j], lane(i + 8 * j, 8)) for j in range(4)]
            i += 32
        h = (_rotl(v[0], 1) + _rotl(v[1], 7) + _rotl(v[2], 12)
             + _rotl(v[3], 18)) & _M64
        for x in v:
            h = ((h ^ _round(0, x)) * _P1 + _P4) & _M64
    else:
        h = (seed + _P5) & _M64
    h = (h + n) & _M64
    while i + 8 <= n:
        h = (_rotl(h ^ _round(0, lane(i, 8)), 27) * _P1 + _P4) & _M64
        i += 8
    if i + 4 <= n:
        h = (_rotl(h ^ (lane(i, 4) * _P1 & _M64), 23) * _P2 + _P3) & _M64
        i += 4
    while i < n:
        h = _rotl(h ^ (data[i] * _P5 & _M64), 11) * _P1 & _M64
        i += 1
    h = (h ^ (h >> 33)) * _P2 & _M64
    h = (h ^ (h >> 29)) * _P3 & _M64
    return h ^ (h >> 32)


def xxhash64(*values) -> int:
    """Spark's ``xxhash64(v1, v2, ...)``: seed 42, each non-NULL value
    hashed with the previous digest as its seed (a str as its UTF-8
    bytes, an int as an 8-byte signed long), NULL skipped; the result as
    a signed long."""
    h = 42
    for v in values:
        if v is None:
            continue
        data = (v.encode("utf-8") if isinstance(v, str)
                else (v & _M64).to_bytes(8, "little"))
        h = xxh64(data, h & _M64)
        h = h - (1 << 64) if h >> 63 else h
    return h


def word_kgram_hashes(text, k: int = 3) -> set:
    """dedup.shingle_hashes of one doc: each ' '-split word hashed, then
    each run of k consecutive word hashes folded left with
    ``xxhash64(acc, next)``.  A doc of m < k words has one gram; its
    missing words are NULLs, so the fold rehashes the accumulator alone.
    Empty and NULL text have no grams."""
    if not text:
        return set()
    wh = [xxhash64(w) for w in text.split(" ")]
    n = max(len(wh) - k + 1, 1)
    grams = []
    for j in range(n):
        acc = wh[j]
        for i in range(1, k):
            acc = xxhash64(acc, wh[j + i] if j + i < len(wh) else None)
        grams.append(acc)
    return set(grams)


def minhash_signature(text, k: int = 3, num_hashes: int = 12):
    """dedup.minhash_signature_table's row for one doc (m0.. as a list),
    or None for a doc with no gram: each gram hash reduced mod 2^31-1,
    then the min of num_hashes affine hashes of it."""
    p = 2147483647
    hs = [g % p for g in word_kgram_hashes(text, k)]
    if not hs:
        return None
    return [min(((1103515245 + 2 * i) * h + 12345 + 7 * i) % p for h in hs)
            for i in range(num_hashes)]


def dedup_near(docs, threshold: float = 0.5, k: int = 3,
               num_hashes: int = 12, bands: int = 4,
               verify_exact: bool = False) -> set:
    """dedup.dedup_near over (doc_id, text) pairs: the surviving ids.
    Docs with equal text (NULL equal to NULL) collapse to their minimum
    id; two survivors pair when some band (``num_hashes // bands``
    consecutive signature values) is equal, and are linked when the
    fraction of equal signature values - or, with *verify_exact*, the
    Jaccard of their gram sets - is >= *threshold*; of every linked
    component only its minimum id survives."""
    rep = {}
    for doc_id, text in docs:
        rep[text] = min(doc_id, rep.get(text, doc_id))
    ids = sorted(rep.values())
    text_of = {doc_id: text for doc_id, text in docs}
    sig = {i: minhash_signature(text_of[i], k, num_hashes) for i in ids}
    per = max(1, num_hashes // bands)
    buckets = {}
    for i in ids:
        if sig[i] is None:
            continue
        for b in range(bands):
            band = tuple(sig[i][b * per:(b + 1) * per])
            if band:
                buckets.setdefault((b, band), []).append(i)
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for members in buckets.values():
        for x in members:
            for y in members:
                if x >= y:
                    continue
                if verify_exact:
                    ga = word_kgram_hashes(text_of[x], k)
                    gb = word_kgram_hashes(text_of[y], k)
                    score = len(ga & gb) / len(ga | gb)
                else:
                    score = sum(a == b for a, b in zip(sig[x], sig[y])) \
                        / num_hashes
                if score >= threshold:
                    rx, ry = find(x), find(y)
                    parent[max(rx, ry)] = min(rx, ry)
    return {i for i in ids if find(i) == i}


def cap_per_key(rows, key: str, limit: int, tiebreak: str = "url") -> list:
    """skew.cap_per_key over mapping rows: per *key* value, the first
    *limit* rows under (md5 hex of *tiebreak*, *tiebreak*), NULL
    tiebreaks first."""
    groups = {}
    for r in rows:
        groups.setdefault(r[key], []).append(r)

    def order(r):
        t = r[tiebreak]
        if t is None:
            return (False, "", "")
        return (True, hashlib.md5(t.encode()).hexdigest(), t)

    return [r for g in groups.values() for r in sorted(g, key=order)[:limit]]


def greedy_samples(rows, chunksize: int) -> list:
    """chunker.domain_samples over mapping rows (domain, url, text):
    per domain, its rows in url order, each text (NULL as '') split on
    '\\n' with '\\r' removed; every line is appended to the sample with
    one trailing space and adds its whitespace-separated word count; a
    sample is emitted once the count is > *chunksize* and the next one
    starts empty; the domain's last sample is emitted stripped, unless
    it is only whitespace.  Returns (domain, chunk_id, n_words, text)
    tuples, each labelled with its own domain."""
    by_domain = {}
    for r in rows:
        by_domain.setdefault(r["domain"], []).append(r)
    out = []
    for domain, members in by_domain.items():
        samples, parts, count = [], [], 0
        for r in sorted(members, key=lambda r: r["url"]):
            for line in (r["text"] or "").split("\n"):
                line = line.replace("\r", "")
                parts.append(line + " ")
                count += len(line.split())
                if count > chunksize:
                    samples.append((count, "".join(parts)))
                    parts, count = [], 0
        tail = "".join(parts).strip()
        if tail:
            samples.append((count, tail))
        out += [(domain, i, n, t) for i, (n, t) in enumerate(samples)]
    return out


def _median(xs: list) -> float:
    """Exact median, interpolated between the two middle values of an
    even-sized list (Spark's ``median`` = ``percentile(x, 0.5)``)."""
    s = sorted(xs)
    pos = 0.5 * (len(s) - 1)
    lo, hi = math.floor(pos), math.ceil(pos)
    return s[lo] if lo == hi else (hi - pos) * s[lo] + (pos - lo) * s[hi]


def outlier_marks(docs, group_cols, z_cut: float = 3.0,
                  min_words: int = 5_000_000) -> dict:
    """quality.mark_outliers(quality.score_loglik(...)) over mapping rows
    (doc_id, text, *group_cols*): doc_id -> (loglik, n_words, z,
    prediction).  A doc's tokens are its non-empty ' '-split words; a doc
    with none is not scored (no entry).  Per cell, P(w) is w's count
    over the cell's token total and loglik is the mean ln P over the
    doc's tokens; z = 0.6745 * (loglik - median) / MAD (0 when MAD is 0),
    rounded to 6 places; a cell with fewer than *min_words* tokens is
    ORIGINAL, else z > z_cut is HIGH, z < -z_cut LOW and the rest IN."""
    cells = {}
    for d in docs:
        toks = [w for w in (d["text"] or "").split(" ") if w]
        if toks:
            cell = tuple(d[c] for c in group_cols)
            cells.setdefault(cell, []).append((d["doc_id"], toks))
    marks = {}
    for members in cells.values():
        counts = Counter(w for _, toks in members for w in toks)
        total = sum(counts.values())
        ll = {i: sum(math.log(counts[w] / total) for w in toks) / len(toks)
              for i, toks in members}
        med = _median(list(ll.values()))
        mad = _median([abs(x - med) for x in ll.values()])
        for i, toks in members:
            z = 0.0 if mad == 0 else \
                round_half_up(0.6745 * (ll[i] - med) / mad, 6)
            pred = ("ORIGINAL" if total < min_words else
                    "HIGH" if z > z_cut else "LOW" if z < -z_cut else "IN")
            marks[i] = (ll[i], len(toks), z, pred)
    return marks
