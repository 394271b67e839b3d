"""Cross-engine fuzz: the Spark SQL operators that production runs (Java
regex: the decontam normalizer and grams) and the kernels of the fused
Arrow stage (the geo gate, the Gopher and C4 gates, the PII chain) must
agree with the pure-Python restatements in tests/oracle.py on
adversarial inputs.  Deterministic seeded corpora; each Spark check
runs as ONE Spark query."""

from __future__ import annotations

import random

import pyarrow as pa

from ccspark import arrowgate, decontam, geo, quality
from tests import oracle


def synth(atoms, n, seed, max_parts=8):
    rng = random.Random(seed)
    return ["".join(rng.choices(atoms, k=rng.randint(1, max_parts)))
            for _ in range(n)]


def spark_eval(spark, expr_fn, inputs) -> list:
    """``expr_fn('u')`` (a Spark SQL expression over column u) on every
    input, in input order."""
    sdf = spark.createDataFrame(list(enumerate(inputs)), "i int, u string")
    sdf.createOrReplaceTempView("fuzz_in")
    got = dict(spark.sql(f"SELECT i, {expr_fn('u')} FROM fuzz_in").collect())
    return [got[i] for i in range(len(inputs))]


def assert_same(inputs, got, want):
    bad = [(x, g, w) for x, g, w in zip(inputs, got, want) if g != w]
    assert not bad, bad[:3]


def test_fuzz_domain_and_tld():
    """geo.geo_batch's tld and PSL domain equal oracle.tld and
    oracle.registrable_domain on synthetic hosts."""
    hosts = synth(["www.", "a.", "b-c.", "x", "co.", "gov.", "uk", "de",
                   "bd", "ck", "kawasaki.jp", "sch.uk", ".", "..",
                   "xn--p1ai", "127.0.0.1", ""], 300, seed=202,
                  max_parts=5)
    # PSL exception rules (!www.ck, !city.kawasaki.jp) with labels left
    # of them, where the exception and the plain suffix rules disagree
    hosts += synth(["city.", "kawasaki.jp", "www.", "ck", "x.", "a.",
                    "jp", "."], 200, seed=203, max_parts=5)
    hosts += ["x.www.ck", "a.city.kawasaki.jp"]
    _, cols = geo.geo_batch(pa.array([f"http://{h}/p" for h in hosts]))
    assert_same(hosts, cols.column("host").to_pylist(), hosts)
    got = [f"{t}|{d}" for t, d in zip(cols.column("tld").to_pylist(),
                                       cols.column("domain").to_pylist())]
    assert_same(hosts, got, [f"{oracle.tld(h)}|{oracle.registrable_domain(h)}"
                             for h in hosts])


URL_ATOMS = [
    "http://", "HTTPS://", "ftp://", "svn+ssh://", "a.b-c://", "1x://",
    "mailto:", "//", "user:pw@", "u@", "@", "/p@q", "www.", "WWW.",
    "Sub.", "a.", "co.", "uk", "de", "DE", "Kawasaki.JP", "city.", "ck",
    "hotel.", "xn--p1ai", "XN--P1AI", "рф", "РФ", "пример.", "İ", "Σ",
    "ΟΔΟΣ.", "ß", ".", "..", ":", ":8080", ":08", "/", "?", "#", "/x",
    "?q=a/b", "#f/g", "\n", " ", "",
]


def test_fuzz_url_host():
    """geo.geo_batch on hostile urls: its host equals oracle.host, its
    tld and domain the oracle's restatements of the host, and a page is
    kept exactly when the tld is a ccTLD and the domain is not an MNC
    domain - over schemes, userinfo (also an '@' after the path), ports,
    '?' and '#' before any '/', upper-case ASCII and non-ASCII hosts,
    unicode and punycode IDN ccTLDs, trailing dots, empty strings, NULLs
    and embedded newlines."""
    urls = (synth(URL_ATOMS, 1500, seed=606, max_parts=10)
            + synth(URL_ATOMS[:12] + ["x.de", "y.fr", "z.рф", ":1", "/",
                                      "@", "?", "#", "\n", "."],
                    500, seed=607, max_parts=6)
            + [None, "", "\n", "file:///x", "mailto:a@b.de", ":8080",
               "http://:8080/", "http://a.de./", "http://İSTANBUL.COM.TR/",
               "http://ΣΟΦΙΑ.GR/", "http://a.de:12\n34/"])
    keep, cols = geo.geo_batch(pa.array(urls, type=pa.string()))
    hosts = [oracle.host(u) for u in urls]
    assert_same(urls, cols.column("host").to_pylist(), hosts)
    tlds = [None if h is None else oracle.tld(h) for h in hosts]
    doms = [None if h is None else oracle.registrable_domain(h)
            for h in hosts]
    assert_same(urls, cols.column("tld").to_pylist(), tlds)
    assert_same(urls, cols.column("domain").to_pylist(), doms)
    want = [t in geo.CCTLD and d not in geo.MNC_DOMAINS
            for t, d in zip(tlds, doms)]
    assert_same(urls, keep.tolist(), want)
    assert_same(urls, cols.column("country").to_pylist(),
                [geo.CCTLD.get(t, (None,))[0] for t in tlds])
    assert 0.05 < sum(want) / len(urls) < 0.95
    assert any(h and "\n" in h for h in hosts)
    assert any(h and not h.isascii() for h in hosts)


QUALITY_ATOMS = [
    "the quick", "fox", "über", "中文字", "...", "…", "##", "a" * 30,
    "\n", "- bullet", "* star", "• dot", "1234", " ", "  ", "e.g.",
    "end.", "uh?", "wow!", "\t", "\r", "mixed2tok", "", "of and that",
]

_GATE_SIGNAL = {
    "min_words": "n_words", "max_words": "n_words",
    "min_mean_word_len": "mean_word_len",
    "max_mean_word_len": "mean_word_len",
    "max_symbol_word_ratio": "symbol_word_ratio",
    "max_bullet_frac": "bullet_frac", "max_ellipsis_frac": "ellipsis_frac",
    "min_alpha_word_frac": "alpha_word_frac",
    "min_stopword_hits": "stopword_hits",
    "max_dup_line_frac": "dup_line_frac",
    "max_dup_line_char_frac": "dup_line_char_frac",
}


def test_fuzz_gopher_signals():
    """The RE2 Gopher gate (regex counts, \\p{L} classes, dictionary-
    encoded lines, vectorized round4) must give the oracle's verdicts on
    adversarial text: at the default thresholds, and with each gate
    alone deciding at a threshold equal to an observed oracle signal
    value, so every signal is compared on both sides of a boundary."""
    # the second corpus repeats non-empty lines (dup_line_char_frac)
    texts = (synth(QUALITY_ATOMS, 250, seed=404, max_parts=15)
             + synth(QUALITY_ATOMS + ["\nsame line", "\nsame line\n"],
                     250, seed=405, max_parts=15))
    arr = pa.array(texts, type=pa.string())
    stops = quality.GOPHER_STOPWORDS

    def verdicts(th):
        want = [oracle.gopher_keep(t, thresholds=th, stopwords=stops)
                for t in texts]
        assert_same(texts,
                    arrowgate.gopher_keep_batch(arr, thresholds=th).tolist(),
                    want)
        return set(want)

    verdicts(None)   # short fuzz texts: the defaults reject them all
    signals = [oracle.gopher_signals(t, stopwords=stops) for t in texts]
    for gate, sig in _GATE_SIGNAL.items():
        values = sorted({s[sig] for s in signals})
        assert len(values) >= 2, sig
        th = dict(oracle.GOPHER_RELAXED, **{gate: values[len(values) // 2]})
        assert verdicts(th) == {True, False}, gate


def test_fuzz_c4_gates():
    """The RE2 C4 page gate gives the oracle's verdicts."""
    texts = synth(QUALITY_ATOMS + ["First one. Second! Third?",
                                   "lorem ipsum", "{", "javascript"],
                  250, seed=505, max_parts=10)
    page = [bool(x) for x in arrowgate.c4_keep_batch(
        pa.array(texts, type=pa.string()))]
    assert_same(texts, page, [oracle.c4_page_keep(t) for t in texts])
    assert set(page) == {True, False}


TEXT_ATOMS = [
    "Hello", "WORLD", "world", "ß", "Straße", "İstanbul", "ÄÖÜ", "äöü",
    "中文", "漢字", "😀", "a\\b", "it's", "o'clock", "\t", "\n", "  ",
    "naïve", "café", "ΣΟΦΙΑ", "σοφια", "МОСКВА", "москва", "ﬁ", "½",
    "ｆｕｌｌwidth", ",", ".", "!", "?", ";", "--", "...", "(paren)",
    "[brack]", "{brace}", "#tag", "@user", "100", "3.14", "a1b2",
    "under_score", "hy-phen", "", " ", "'", '"',
]


def test_fuzz_decontam_norm_and_grams(spark):
    """The decontamination normalizer + gram template must match the
    Python restatement byte for byte on adversarial unicode/punctuation
    text - incl. the Turkish 'İ', which the JVM lowers to i + U+0307
    and the \\p{M} strip pins to a plain i."""

    def norm_join(col):
        w = decontam.norm_words(col)
        g = decontam.gram_array(w, 3)   # 3-grams: short texts hit too
        return (f"concat(array_join({w}, chr(7)), chr(7), chr(7), "
                f"array_join({g}, chr(7)))")

    def want(t):
        w = oracle.norm_words(t)
        return (chr(7).join(w) + chr(7) * 2
                + chr(7).join(oracle.word_grams(w, 3)))

    texts = synth(TEXT_ATOMS, 250, seed=303, max_parts=12)
    assert_same(texts, spark_eval(spark, norm_join, texts),
                [want(t) for t in texts])


PII_ATOMS = [
    "4111", "1111", "5500", "0000", "123", "45", "6789", "555",
    " ", "-", ".", "", "(", ")", "+1 ", "a", "x@y.co", "user@", "@",
    "@mail.example.org", "10.0.42.7", "192.168.10.250", "10.0.",
    "999.999.999.999", "12345678901234567890", "word ", "end",
    "\n", "--", "  ", "4111-1111", "1111 1111",
]
# non-ASCII letters and digits next to digit runs (Java's \b would count
# them as word characters), overlapping classes, empty lines
PII_ATOMS_2 = PII_ATOMS + [
    "é", "ü", "٣", "中", "4111111111111111", "123-45-6789",
    "10.0.42.7.1", "(555) 123-4567", "x@10.0.42.7", "\n\n", "_",
]
PII_CASES = [
    "é4111111111111111", "4111111111111111é", "ü4111 1111 1111 1111",
    "٣4111111111111111", "中4111111111111111", "a4111111111111111",
    " 4111111111111111 ", "4111-1111-1111-1111", "", "\n", "\n\n",
    "call 555-123-4567 or é555-123-4567", "ssn 123-45-6789 ip 10.0.0.1",
    "mail é@x.com or ü.x@y.org", "٣٤٥ 4111 1111 1111 1111٣",
    # no digit and no '@' (the guard skips them), '@' only, and
    # placeholders next to digits
    "no pii at all here", "é中 ü٣ text", "<EMAIL> <PHONE> <CC>",
    "user at example dot org", "@", "@@ x@", "a@b", "me@@host",
    "x@y.co@z.org", "<EMAIL>4111111111111111", "4111111111111111<CC>",
    "<IP>10.0.42.7<IP>", "1<SSN>123-45-6789", "<PHONE>555-123-4567",
]


def test_fuzz_pii_chain():
    """arrowkernel.scrub_batch - the function the fused Arrow line stage
    calls, digit/'@' guard included - against Python re.ASCII
    (oracle.scrub): \\b boundaries (ASCII next to é, ü, ٣, 中), class
    precedence and replace-all semantics included.  It returns NULL
    exactly where the chain changes nothing."""
    from ccspark import arrowkernel

    texts = (synth(PII_ATOMS, 400, seed=777)
             + synth(PII_ATOMS_2, 400, seed=778) + PII_CASES + [None])
    got = arrowkernel.scrub_batch(pa.array(texts, type=pa.string()))
    want = [None if t is None else oracle.scrub(t) for t in texts]
    assert_same(texts, [g if g is not None else t
                        for g, t in zip(got.to_pylist(), texts)], want)
    changed = [w != t for w, t in zip(want, texts)]
    assert_same(texts, got.is_valid().to_pylist(), changed)
    assert 0 < sum(changed) < len(texts)
    assert oracle.scrub("é4111111111111111") == "é<CC>"
