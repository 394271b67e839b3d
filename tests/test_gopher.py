"""Gopher/C4 document-quality rules, judged by the one gate engine
(ccspark.arrowgate) and checked against the per-row restatement in
tests/oracle.py: every gate must fire on a document built to violate
it, and the clean document must pass."""

from __future__ import annotations

import pyarrow as pa
import pytest
from pyspark.sql import Row

from ccspark import arrowgate, quality
from tests import oracle

GOOD_LINE = ("the quick brown fox jumps over and over that lazy dog to "
             "be of service and have fun with every word in this line")
# 4 distinct lines x ~24 words = ~96 words, all rules satisfied
GOOD = "\n".join(f"{GOOD_LINE} variant {i}" for i in range(4))

DOCS = {
    "clean": GOOD,
    "too_short": "the and of that " * 3,                      # < 50 words
    "long_words": "\n".join(
        " ".join("supercalifragilistic" for _ in range(30))
        for _ in range(2)) + " the and",                      # mean len > 10
    "symbols": GOOD + " " + "# " * 30,                        # '#' ratio
    "bullets": "\n".join(f"- {GOOD_LINE}" for _ in range(4)),  # 100% bullets
    "ellipses": "\n".join(f"{GOOD_LINE}..." for _ in range(4)),
    "numeric": GOOD + "\n" + " ".join("12345" for _ in range(120)),
    "no_stopwords": "\n".join(
        " ".join("zebra quartz jumble" for _ in range(10))
        for _ in range(4)),                                   # 0 stopword hits
    "dup_lines": "\n".join([GOOD_LINE] * 9 + [GOOD_LINE + " unique"]),
}


# the threshold keys each violating document breaks: repeated lines
# also break both duplicate-line rules, and '#' tokens the alpha rule
DUP = ("max_dup_line_frac", "max_dup_line_char_frac")
RULES = {
    "too_short": ("min_words",),
    "long_words": ("max_mean_word_len",),
    "symbols": ("max_symbol_word_ratio", "min_alpha_word_frac"),
    "bullets": ("max_bullet_frac",) + DUP,
    "ellipses": ("max_ellipsis_frac",) + DUP,
    "numeric": ("min_alpha_word_frac",),
    "no_stopwords": ("min_stopword_hits",) + DUP,
    "dup_lines": DUP,
}


def keep(texts, langs=None, thresholds=None) -> list:
    """arrowgate.gopher_keep_batch verdicts as a list of bools; *langs*
    None -> the static English gate."""
    return [bool(x) for x in arrowgate.gopher_keep_batch(
        pa.array(texts, type=pa.string()),
        None if langs is None else pa.array(langs, type=pa.string()),
        thresholds=thresholds)]


def test_clean_doc_passes_and_each_violation_fires():
    got = dict(zip(DOCS, keep(list(DOCS.values()))))
    assert got["clean"]
    for name in DOCS:
        if name != "clean":
            assert not got[name], name


def test_signals_point_at_the_right_rule():
    """Each violating document passes once only the rules it breaks are
    relaxed, and fails while any one of them is still in force."""
    assert set(RULES) == set(DOCS) - {"clean"}
    for name, rules in RULES.items():
        relaxed = {k: oracle.GOPHER_RELAXED[k] for k in rules}
        assert keep([DOCS[name]], thresholds=relaxed) == [True], name
        for k in rules:
            rest = {r: v for r, v in relaxed.items() if r != k}
            assert keep([DOCS[name]], thresholds=rest) == [False], (name, k)


def test_unknown_threshold_key_raises(spark):
    """A misspelt Gopher threshold key raises ValueError in arrowgate, and
    in domain_quality while the plan is built (not in a task); the real
    key is honoured."""
    assert keep([GOOD]) == [True]
    assert keep([GOOD], thresholds={"min_words": 10**6}) == [False]
    with pytest.raises(ValueError, match="min_word"):
        keep([GOOD], thresholds={"min_word": 10**6})
    df = spark.createDataFrame([Row(domain="a.de", lang="en", text=GOOD)])
    for lang_col in (None, "lang"):
        with pytest.raises(ValueError, match="min_word"):
            quality.domain_quality(df, lang_col=lang_col,
                                   thresholds={"min_word": 1})


def test_thresholds_are_overridable():
    short = [DOCS["too_short"]]
    assert keep(short) == [False]
    assert keep(short, thresholds={"min_words": 5}) == [True]
    assert keep(short, ["en"], thresholds={"min_words": 5}) == [True]


# ---------------- C4 rules ----------------

C4_PAGE = ("The first sentence is fine. Here is another good one! "
           "A third sentence? The fourth one arrives. And a fifth here.")


def c4_keep(texts) -> list:
    return [bool(x) for x in arrowgate.c4_keep_batch(
        pa.array(texts, type=pa.string()))]


def test_c4_page_gates():
    docs = [C4_PAGE, "Too short. Only two sentences.",
            C4_PAGE + " lorem ipsum dolor.", C4_PAGE + " code { weird }."]
    assert c4_keep(docs) == [True, False, False, False]
    assert [oracle.c4_page_keep(t) for t in docs] == c4_keep(docs)


def test_quality_ops_null_and_empty_safe(spark):
    """NULL / empty / whitespace-only text must not crash either gate or
    the domain rollup; NULL-text docs never pass a gate and count
    against their domain."""
    texts = [None, "", "   \n  ", GOOD, C4_PAGE]
    assert keep(texts) == [False, False, False, True, False]
    assert keep(texts, ["en"] * 5) == [False, False, False, True, False]
    assert keep(texts, [None] * 5) == [False, False, False, True, False]
    # GOOD has four sentences (its lines, no terminal punctuation)
    assert c4_keep(texts) == [False, False, False, False, True]
    df = spark.createDataFrame([Row(domain="a.de", text=t) for t in texts],
                               "domain string, text string")
    got = [tuple(r) for r in quality.domain_quality(df).collect()]
    assert got == [("a.de", 5, 0.2, False)]


def test_gopher_stopwords_per_language():
    """A German page fails the English stopword rule (judged as en, and
    by the static gate) but passes judged as de - the gate picks the
    stopword set by language."""
    de_line = ("der schnelle braune fuchs springt mit viel energie und "
               "freude auf das grosse feld von heute und morgen wieder")
    text = "\n".join(f"{de_line} variante {i}" for i in range(4))
    assert keep([text, text], ["en", "de"]) == [False, True]
    assert keep([text]) == [False]
    sig = {lg: oracle.gopher_signals(text, lg)["stopword_hits"]
           for lg in ("en", "de")}
    assert sig["en"] < 2 <= sig["de"], sig


# ---- language-aware gate (r3: the r2 verdict's headline hole) ------------

ML_DOCS = {
    "en_good": ("en", "the quick brown fox jumps over that lazy dog and "
                "it has been with many of the words to be good here. " * 3),
    "de_good": ("de", "Der Bericht ist lang und das Ergebnis von der "
                "Arbeit mit auf viele Seiten verteilt worden heute. " * 3),
    # a de-labeled page with ENGLISH text must FAIL (judged by the
    # German stopword set, not the English one)
    "de_english_text": ("de", "the quick brown fox jumps over that lazy "
                        "dog and it has been with many of the words. " * 3),
    "zh_good": ("zh", "这是一个用于测试文档质量规则的中文页面它包含足够多的汉字"
                "来通过最小字数的门槛数据质量评估需要真实的中文文本内容"
                "这里再补充一些汉字保证超过五十个字符的要求。"),
    "zh_short": ("zh", "短。"),
    "ja_good": ("ja", "これは品質ゲートを試験するための日本語の文章です"
                "もっと長くして五十文字以上の仮名と漢字を含むようにします"
                "データの品質評価には本物の日本語テキストが必要です。"),
    "ko_good": ("ko", "이것은 품질 게이트를 시험하기 위한 한국어 문장입니다 "
                "오십 자 이상의 한글을 포함하도록 더 길게 작성합니다 데이터 "
                "품질 평가에는 진짜 한국어 텍스트가 필요합니다."),
    # no stopword set configured for Finnish -> the stopword gate is
    # bypassed, NOT evaluated with the English set
    "fi_no_set": ("fi", "tämä on suomenkielinen sivu jolla ei ole "
                  "määritettyä stopword joukkoa mutta sen pitäisi silti "
                  "läpäistä portti koska sanat ovat järkeviä tässä. " * 3),
    "en_symbol_junk": ("en", "### ### ### ### " * 60),
    "null_lang": (None, "the quick brown fox jumps over that lazy dog "
                  "and it has been with many of the words to be good. " * 3),
}

ML_EXPECT = {
    "en_good": True, "de_good": True, "de_english_text": False,
    "zh_good": True, "zh_short": False, "ja_good": True, "ko_good": True,
    "fi_no_set": True, "en_symbol_junk": False, "null_lang": True,
}


def test_lang_aware_gate_semantics():
    """Valid CJK pages PASS, a de page with English text FAILS, a
    language with no stopword set bypasses only the stopword rule."""
    texts = [tx for _, tx in ML_DOCS.values()]
    langs = [lg for lg, _ in ML_DOCS.values()]
    got = dict(zip(ML_DOCS, keep(texts, langs)))
    assert got == ML_EXPECT
    assert {name: oracle.gopher_keep(tx, lg)
            for name, (lg, tx) in ML_DOCS.items()} == ML_EXPECT


def test_lang_aware_domain_udf_matches_arrow(spark):
    """domain_quality's pandas UDF gives each page the language-aware
    arrowgate verdict: with one page per domain, keep_frac is 1.0
    exactly for the pages ML_EXPECT keeps."""
    df = spark.createDataFrame(
        [Row(domain=name, lang=lg, text=tx)
         for name, (lg, tx) in ML_DOCS.items()],
        "domain string, lang string, text string")
    got = {r.domain: r.keep_frac for r in quality.domain_quality(
        df, lang_col="lang").collect()}
    assert got == {name: float(want) for name, want in ML_EXPECT.items()}


def test_facade_composite_keeps_valid_cjk_page(spark):
    """END-TO-END: a genuine Chinese page survives the DEFAULT facade
    composite (doc gates + kernel + dedup) - the language-blind gate
    used to drop every CJK page structurally."""
    from ccspark.api import CCSparkCorpus
    zh_line = ("这是一个用于测试语料质量规则的中文页面，包含足够多的汉字"
               "来通过最小字数门槛，数据质量评估需要真实的中文文本内容。")
    text = "\n".join(f"{zh_line}第{i}段。" for i in range(5))
    pages = spark.createDataFrame(
        [Row(doc_id=0, url="https://www.site.cn/zh1", text=text,
             lang="zh"),
         Row(doc_id=1, url="https://www.site.de/de1", text=text,
             lang="de")],   # de page with CHINESE text -> doc gate drops
        "doc_id long, url string, text string, lang string")
    out = CCSparkCorpus(spark).build_training_corpus(pages).collect()
    assert out, "valid CJK page must survive the default composite"
    assert {r.url for r in out} == {"https://www.site.cn/zh1"}
    assert all("中文页面" in r.text for r in out)


# loose enough that most fuzz docs reach the late rules (alpha fraction,
# stopwords, duplicate lines) instead of failing on length or shape
_LOOSE = dict(min_words=20, min_mean_word_len=2.0, max_mean_word_len=12.0,
              max_symbol_word_ratio=0.3, max_bullet_frac=0.5,
              max_ellipsis_frac=0.3, min_alpha_word_frac=0.6,
              min_stopword_hits=2, max_dup_line_frac=0.5,
              max_dup_line_char_frac=0.5)


def test_arrow_gate_matches_py_gate(spark):
    """The Arrow/RE2 whole-batch gate (ccspark.arrowgate) is
    verdict-identical to the per-row restatement oracle.gopher_keep -
    static AND language-aware renderings, default and loose thresholds
    - on every purpose-built violating doc, the multilingual fixture,
    the sf0.001 pages, nulls, boundary docs, and a seeded adversarial
    batch."""
    import random

    from tests.fixtures import pages_spark

    texts = ([tx for _, tx in ML_DOCS.values()] + list(DOCS.values())
             + [None, "",
                # mean_word_len rounds to exactly 3.0 (boundary)
                " ".join(["abc"] * 60) + " x y",
                # resume-re-anchoring traps: pyarrow count_substring_regex
                # re-anchors ^ at every match-resume point, so "- - " or
                # "* * " prefixes and 4+-dot runs overcount under the
                # naive (?m)^/$ patterns (see arrowgate docstring)
                "- - " + GOOD, "* * " + GOOD, GOOD + "......",
                ("- " + GOOD_LINE + "\n") * 3 + GOOD])
    langs = ([lg for lg, _ in ML_DOCS.values()] + ["en"] * len(DOCS)
             + ["zh", None, "en", "en", "en", "en", "en"])
    for r in pages_spark(spark, "/root/testdata/sf0.001").select(
            "text", "lang").collect():
        texts.append(r.text)
        langs.append(r.lang)
    rng = random.Random(5)
    frag = ("the und der 中文測試 data # … - x\n* y…\nder die und das von "
            "mit ist auf haus ...")
    for _ in range(400):
        k = rng.randint(0, 40)
        parts = [frag[rng.randint(0, len(frag) - 1):] for _ in range(k)]
        texts.append(" ".join(parts)[: rng.randint(0, 2000)])
        langs.append(rng.choice(["en", "de", "zh", "ja", "ko", "fi", None]))
    atoms = ["the", "and", "der", "und", "of", "that", "中文", "한국어",
             "ひらがな", "カタカナ", "々", "ー", "#", "…", "...", "- ", "* ",
             "• ", "12345", "supercalifragilistic", "\n", "  ", "İ", "ß",
             "\u3000", "\t", "e\u0301", "\U00020000", "ǅ", "Ⅳ", "²"]
    for _ in range(600):
        line = " ".join(rng.choice(atoms)
                        for _ in range(rng.randint(1, 20)))
        texts.append("\n".join([line] * rng.randint(1, 3) + [" ".join(
            rng.choice(atoms) for _ in range(rng.randint(0, 200)))]))
        langs.append(rng.choice(["en", "de", "zh", "ja", "ko", "fi", None]))

    for th in (None, _LOOSE):
        exp_ml = [oracle.gopher_keep(t, lg, th)
                  for t, lg in zip(texts, langs)]
        assert keep(texts, langs, th) == exp_ml, th
        exp_st = [oracle.gopher_keep(t, thresholds=th,
                                     stopwords=quality.GOPHER_STOPWORDS)
                  for t in texts]
        assert keep(texts, thresholds=th) == exp_st, th
        assert 0 < sum(exp_ml) < len(texts) and 0 < sum(exp_st), th


def test_c4_arrow_gate_matches_oracle():
    """arrowgate.c4_keep_batch (RE2) == oracle.c4_page_keep (Python re)
    on crafted boundary docs (sentence-count edges, ideographic
    terminals, bad substrings, nulls)."""
    s4 = "One two. Three four. Five six. Seven eight."      # 4 sentences
    s5 = s4 + " Nine ten."                                   # 5 sentences
    docs = [
        s4, s5,
        "a.\nb.\nc.\nd.\ne.",                # newline boundaries -> 5
        "一句。二句。三句。四句。五句。",          # ideographic, no spaces -> 5
        s5 + " lorem ipsum dolor",           # bad substring
        s5 + " code { brace",                # bad substring
        "No terminal punctuation at all " * 10,
        "", None,
        "Dots... galore... here... ok... fine...",
    ]
    got = c4_keep(docs)
    assert got == [oracle.c4_page_keep(t) for t in docs]
    assert got == [False, True, True, True, False, False, False, False,
                   False, True]


def _oracle_rollup(rows, lang_aware, min_keep_frac):
    """{domain: (n_pages, keep_frac, domain_keep)} over oracle.gopher_keep
    verdicts of (domain, text, lang) rows."""
    verdicts = {}
    for domain, text, lang in rows:
        v = (oracle.gopher_keep(text, lang) if lang_aware
             else oracle.gopher_keep(text,
                                     stopwords=quality.GOPHER_STOPWORDS))
        verdicts.setdefault(domain, []).append(v)
    out = {}
    for domain, v in verdicts.items():
        frac = oracle.round4(sum(v) / len(v))
        out[domain] = (len(v), frac, frac >= min_keep_frac)
    return out


def test_domain_rollup_matches_oracle_rollup(spark):
    """domain_quality's n_pages, keep_frac and domain_keep equal a
    pure-Python rollup of oracle.gopher_keep on the fixture's geo pages,
    language-blind and language-aware."""
    from ccspark import pipeline
    from tests.fixtures import pages_spark
    geo = pipeline.with_geo(pages_spark(spark, "/root/testdata/sf0.001"))
    rows = [tuple(r) for r in geo.select("domain", "text", "lang")
            .collect()]
    for lang_col in (None, "lang"):
        got = {r.domain: (r.n_pages, r.keep_frac, r.domain_keep)
               for r in quality.domain_quality(
                   geo, lang_col=lang_col, min_keep_frac=0.9).collect()}
        assert got == _oracle_rollup(rows, lang_col is not None, 0.9), \
            lang_col
        assert {v[2] for v in got.values()} == {True, False}, lang_col


def test_domain_rollup_counts_failing_null_lang_page(spark):
    """A null-lang page that fails the gate gets a False verdict, which
    counts against its domain."""
    df = spark.createDataFrame(
        [Row(domain="a.de", lang=None, text=DOCS["clean"]),
         Row(domain="a.de", lang=None, text=DOCS["long_words"])],
        "domain string, lang string, text string")
    got = {r.domain: (r.n_pages, r.keep_frac, r.domain_keep)
           for r in quality.domain_quality(df, lang_col="lang",
                                           min_keep_frac=0.6).collect()}
    assert got == {"a.de": (2, 0.5, False)}
    assert not oracle.gopher_keep(DOCS["long_words"], None)
